package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.CorpusFile
import graft.pipeline._

/** The operator surface exposed through the driver contract: each entry is
  * one operator family from SURVEY.md §2 (or a training-data-pipeline op)
  * expressed over the driver's parquet tables, with an ANSI-SQL oracle in
  * [[Queries.oracle]] where the semantics are SQL-expressible.
  *
  * Determinism rules for oracle-checked queries:
  *  - monetary doubles are converted to bigint cents via round(x*100)
  *    before aggregation (associative integer sums — no float-order drift);
  *  - ranking windows always carry a unique tiebreaker;
  *  - floor/rank results are cast to bigint on both sides.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Small-input parallelizer: when a scan yields fewer splits than the
    * session has cores (the test fixtures are single-row-group parquet
    * files — ONE split, so everything downstream of the scan runs in one
    * serial task), hash-repartition the pruned projection on `key` so
    * the heavy per-row work (gram explodes, tokenization, probes) uses
    * the whole machine. GUARDED: a production-scale table has millions
    * of row-group splits and never enters the branch, so no shuffle is
    * ever added at 100 TB — this only moves kilobytes of fixture rows.
    */
  private val fileLenCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def par(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    // Gate on the scan's FILE SIZES (FS statuses, cached) instead of
    // df.rdd.getNumPartitions: .rdd forced eager analysis + physical
    // planning at query-CONSTRUCTION time for every wrapped query
    // (round-5 ADVICE), charging planning overhead to every bench sample.
    // splits ≈ Σ ceil(bytes / maxPartitionBytes) gates identically: a
    // fixture file is one split (repartition), a production table is
    // millions of splits (no-op) — unknown sizes conservatively skip the
    // repartition, matching production behavior.
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val hconf = spark.sparkContext.hadoopConfiguration
    val est = df.inputFiles.iterator.map { f =>
      val len = fileLenCache.computeIfAbsent(f, { _ =>
        try {
          val path = new org.apache.hadoop.fs.Path(f)
          java.lang.Long.valueOf(
            path.getFileSystem(hconf).getFileStatus(path).getLen)
        } catch { case _: Throwable => java.lang.Long.valueOf(Long.MaxValue) }
      }).longValue()
      // division-form ceil: no overflow at the Long.MaxValue sentinel
      math.max(1L, len / maxSplit + (if (len % maxSplit > 0) 1L else 0L))
    }.sum
    if (est < p) df.repartition(p, col(key)) else df
  }

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  // ====================================================================
  // TPC-H-ish relational operator inventory (SURVEY.md §2.2-2.6)
  // ====================================================================

  /** A8 dedup-ratio-style global aggregation (multi-key groupBy + sums). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_cents"),
        count(lit(1)).as("count_order"))
  }

  /** J1/J4 first-writer-wins: earliest lineitem per part in stream order.
    * groupBy + min(struct) instead of a window sort: the aggregate is
    * map-side combinable (partial min per input partition), so the shuffle
    * carries one row per (partition, partkey) — the plan the pipeline
    * itself uses (DedupPipeline.uniqueChunks).
    */
  def qFirstWriter(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.groupBy(col("l_partkey"))
      .agg(min(struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_suppkey"))).as("first"))
      .select(col("l_partkey"), col("first.l_orderkey").as("first_orderkey"),
        col("first.l_linenumber").as("first_linenumber"))
  }

  /** T1/W4 top-k per group (champion selection / capping). */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rk"))
  }

  /** T1/T2 top-k per group via the native bounded-heap aggregate
    * ([[graft.functions.TopKBy]]): same semantics as `q_topk_per_group`'s
    * window formulation but map-side combinable — each input partition
    * forwards at most k rows per customer and no per-group sort exists
    * anywhere in the plan (ObjectHashAggregate partial/final instead of
    * WindowExec). Integer cents keep the ordering oracle-exact.
    */
  def qTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.groupBy(col("o_custkey"))
      .agg(graft.functions.TopKBy(
        cents(col("o_totalprice")), col("o_orderkey"), 3).as("topk"))
      .select(col("o_custkey"), posexplode(col("topk")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        (col("pos") + 1).cast("long").as("rk"), col("col.score").as("cents"))
  }

  /** W2 sessionization: runs of equal event_type per user (CFL run windows). */
  def qSessionRuns(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.withColumn("prev", lag(col("event_type"), 1).over(w))
      .withColumn("isNew",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("isNew")).as("n_runs"), count(lit(1)).as("n_events"))
  }

  /** A12 container packing analog: running sum → capacity bins.
    * Deliberately the WINDOW formulation — it is the oracle-shaped demo
    * of the packing arithmetic over bounded per-supplier groups; the
    * engine's actual packing ([[pipeline.DedupPipeline.packContainers]])
    * and every stream-scale running sum use the two-phase distributed
    * prefix ([[pipeline.DedupPipeline.streamPrefix]]) instead.
    */
  def qCumPacking(spark: SparkSession, dir: String): DataFrame = {
    // Per-stream running sum via the PRODUCTION two-phase prefix
    // ([[graft.pipeline.DedupPipeline.streamPrefix]]: range-partition on
    // the full ordering + O(partitions) boundary offsets), not a
    // `Window.partitionBy(l_suppkey)` — one hot supplier would funnel its
    // whole history through a single window-sort task at scale. Total
    // order matches the former window exactly, so the oracle (a window
    // rank in DuckDB) is unchanged; rows whose full sort key ties are
    // identical in every output column except cum_qty, so the row
    // MULTISET is order-independent either way.
    val li = t(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_shipdate"),
        col("l_quantity").cast("long").as("qty"))
    graft.pipeline.DedupPipeline.streamPrefix(li, "l_suppkey",
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"),
        "qty", "cum_before")
      .withColumn("cum_qty", col("cum_before") + col("qty"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("cum_qty"),
        ((col("cum_qty") - 1) / 500).cast("long").as("bin"))
  }

  /** J7 broadcast dim join chain (orders→customer→nation→region). */
  def qBroadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(n("n_name"))
      .agg(count(lit(1)).as("order_count"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
  }

  /** J6 GC liveness anti join: orders with no surviving lineitems
    * (dead recipes after collection).
    */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  /** Semi join: customers having at least one order above threshold. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  /** A8 distinct aggregation: distinct parts/suppliers per return flag. */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  /** A5 container-utilization-style decile histogram. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.select(least(floor(col("o_totalprice") / 50000), lit(9)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** W10 LRU stack-distance analytics: per (user,type) gap between
    * consecutive accesses in the user's global access sequence.
    */
  def qLruStack(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    e.withColumn("seq", row_number().over(wSeq).cast("long"))
      .withColumn("prevSeq", lag(col("seq"), 1).over(wType))
      .withColumn("gap", col("seq") - col("prevSeq"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(col("gap")).as("reaccesses"),
        sum(when(col("gap") <= 8, 1L).otherwise(0L)).as("hits_within_8"))
  }

  /** W9 OPT (Belady) next-access analytics via lead(). */
  def qNextAccess(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    e.withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("reuse_us",
        unix_micros(col("next_ts").cast("timestamp"))
          - unix_micros(col("ts").cast("timestamp")))
      .groupBy(col("event_type"))
      .agg(count(col("reuse_us")).as("n_reuses"),
        sum(when(col("reuse_us") <= 3600000000L, 1L).otherwise(0L)).as("reuse_within_1h"))
  }

  /** A3 min sampling: per-group minimum of a deterministic digest. */
  def qMinSample(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.withColumn("digest",
        md5(concat_ws("-", col("l_partkey"), col("l_linenumber"), col("l_orderkey"))))
      .groupBy(col("l_orderkey"))
      .agg(min(col("digest")).as("min_feature"), count(lit(1)).as("n_chunks"))
  }

  /** A1 uniform sampling analog: every 4th chunk of each recipe (stream
    * order) is a feature — destor's INDEX_SAMPLING_UNIFORM over the
    * lineitem-derived digest stream.
    */
  def qUniformSample(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    li.withColumn("digest",
        md5(concat_ws("-", col("l_partkey"), col("l_linenumber"), col("l_orderkey"))))
      .withColumn("rn", row_number().over(w))
      .filter(pmod(col("rn") - 1, lit(4)) === 0)
      .groupBy(col("l_orderkey"))
      .agg(min(col("digest")).as("min_uniform_feature"),
        count(lit(1)).as("n_sampled"))
  }

  /** A4 optimized-min sampling analog (src/index/sampling_method.c:81-170):
    * the anchor is the group's min digest; the emitted feature is the
    * digest 8 positions EARLIER in stream order (clamped to the stream
    * head), exactly the reference's prefix-window lookback.
    */
  def qOptminSample(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val wSeq = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val base = li.withColumn("digest",
        md5(concat_ws("-", col("l_partkey"), col("l_linenumber"), col("l_orderkey"))))
      .withColumn("rn", row_number().over(wSeq).cast("long"))
      .withColumn("lag8", lag(col("digest"), 8).over(wSeq))
      .withColumn("head", first(col("digest")).over(wSeq))
    val wPick = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("digest"), col("rn"))
    base.withColumn("pick", row_number().over(wPick))
      .filter(col("pick") === 1)
      .select(col("l_orderkey"), col("digest").as("anchor"),
        coalesce(col("lag8"), col("head")).as("optmin_feature"))
  }

  /** A2 random (hash-mod) sampling: Sparse-Index-style 1/32 selection. */
  def qRandomSample(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(pmod(col("l_partkey"), lit(32)) === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("sampled"),
        sum(cents(col("l_extendedprice"))).as("sampled_cents"))
  }

  /** W6 content-defined segment boundaries: running boundary count. */
  def qSegmentBounds(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.withColumn("boundary",
        when(pmod(col("l_partkey"), lit(64)) === 0, 1L).otherwise(0L))
      .withColumn("segId", sum(col("boundary")).over(w))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("segId"))
  }

  /** A7 CBR utility quantile: exact discrete quantiles picked by global
    * rank (element at ceil(q·n)) — engine-independent, no interpolation.
    * The rank is the distributed running count of one stream
    * ([[DedupPipeline.streamPrefixTotal]] of 1s, rank = pre + 1, n from
    * the same counts job), not a single-partition global window — the
    * value at rank k is tie-insensitive, so the result is deterministic
    * even though tied rows get arbitrary ranks.
    */
  def qQuantile(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val (ranked, n) = DedupPipeline.streamPrefixTotal(
      o.select(cents(col("o_totalprice")).as("c"), lit("q").as("s"),
        lit(1L).as("one")),
      "s", Seq("c"), "one", "pre")
    def at(q: Double) =
      max(when(col("pre") + 1L === math.ceil(n * q).toLong, col("c")))
    ranked.agg(at(0.5).as("p50"), at(0.9).as("p90"), at(0.99).as("p99"))
  }

  // ====================================================================
  // Rewrite / restore analytics over a lineitem-derived recipe
  // (stream=l_suppkey, containerId=l_partkey%50, dup=(l_partkey%3)!=0)
  // ====================================================================

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
    import spark.implicits._
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
    import spark.implicits._
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
    import spark.implicits._
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

  // ====================================================================
  // Similarity selection (J2/J3) over lineitem-derived segment features
  // ====================================================================

  /** segId = l_orderkey; features = md5 of a coarse part bucket. */
  private def segFeaturesFromLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.select(col("l_orderkey").as("segId"),
        md5(pmod(col("l_partkey"), lit(500)).cast("string")).as("feature"))
      .distinct()
      .withColumn("recency", col("segId"))
  }

  private val segFeaturesSql =
    """SELECT DISTINCT l_orderkey AS segId,
      |  md5(CAST(l_partkey % 500 AS VARCHAR)) AS feature,
      |  l_orderkey AS recency
      |FROM lineitem""".stripMargin

  /** J2+T1 plain top-k champion segments by shared features (no trim). */
  def qChampionPlain(spark: SparkSession, dir: String): DataFrame = {
    val sf = segFeaturesFromLineitem(spark, dir)
    val idx = SimilaritySelection.buildFeatureIndex(sf, valueLength = 4)
    SimilaritySelection.topKPlain(sf.select(col("segId"), col("feature")), idx, 3)
  }

  /** J3 greedy champion selection with Sparse-Index feature trimming
    * (rows-only: iterative trim is order-dependent, not SQL-expressible).
    */
  def qChampionTrim(spark: SparkSession, dir: String): DataFrame = {
    val sf = segFeaturesFromLineitem(spark, dir)
    val idx = SimilaritySelection.buildFeatureIndex(sf, valueLength = 4)
    SimilaritySelection.topKChampions(sf.select(col("segId"), col("feature")), idx, 3)
  }

  /** W6/A1-A4 destor-parity segmenting + sampling over the documents
    * corpus chunk stream (rows-only: stateful sequence folds).
    */
  def dSegmentFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    val features = DedupPipeline.featurize(files, cfg)
    features.flatMap { f =>
      val fps = f.chunks.map(_.fp)
      val segs = Segmenting.contentDefined(avg = 4, min = 2, max = 16)(fps)
      fps.indices.groupBy(segs(_)).toSeq.flatMap { case (segId, idxs) =>
        val segFps = idxs.map(fps)
        Seq("uniform", "random", "min", "optmin").flatMap { m =>
          Sampling.sample(m, segFps, 4).map(feat => (f.fileId, segId, m, feat))
        }
      }
    }.toDF("file_id", "seg_id", "method", "feature")
  }

  /** 40-hex chunk fingerprints DuckDB can recompute: fixed-256 chunking
    * over the (ASCII) text, fp = md5(slice) || first-8-hex(md5(slice)).
    * The 8 appended chars land at hex positions [32,40) — exactly where
    * Segmenting.fpTailInt reads the reference's `*(int*)&fp[16]` — so the
    * content-defined boundary test and random sampling run on a tail the
    * SQL replay can rebuild. All avg/rate moduli used with these fps are
    * powers of two ≤ 256, so the signed-int32 Java modulus and the
    * unsigned low-byte SQL modulus agree on divisibility.
    */
  private def md5Fp40s(md: java.security.MessageDigest, text: String): Vector[String] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = (bytes.length + 255) / 256
    (0 until n).iterator.map { i =>
      md.reset()
      md.update(bytes, i * 256, math.min(256, bytes.length - i * 256))
      val h = DedupPipeline.toHex(md.digest())
      h + h.substring(0, 8)
    }.toVector
  }

  /** W6/A1-A4 segmenting + sampling, fully value-oracled — the
    * d_simhash_md5-style REPLAYABLE TWIN of [[dSegmentFeatures]]: the
    * exact same Segmenting.contentDefined and Sampling.uniform/random/
    * min/optimizedMin code paths run end to end, but over [[md5Fp40s]]
    * chunk fingerprints that DuckDB recomputes (SHA-1 fps are not
    * SQL-recomputable; md5 slices are). The DuckDB oracle replays the
    * content-defined segmenting fold as a recursive running-state CTE
    * (the r_restore_asm pattern) and each sampling method relationally,
    * including the empty-random sentinel and optmin's 8-back lookback.
    * Map-only on the Spark side: the fold is a per-document pure function.
    */
  def dSegmentMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val fps = md5Fp40s(md, text)
          val segs = Segmenting.contentDefined(avg = 4, min = 2, max = 16)(fps)
          fps.indices.groupBy(segs(_)).toSeq.sortBy(_._1).flatMap {
            case (segId, idxs) =>
              val segFps = idxs.map(fps)
              Seq("uniform", "random", "min", "optmin").flatMap { m =>
                Sampling.sample(m, segFps, 4).map(f => (id, segId, m, f))
              }
          }
        }
      }.toDF("doc_id", "seg_id", "method", "feature")
  }

  /** The index-preset matrix, fully value-oracled — the replayable twin
    * of [[dIndexPresets]]: every preset's forced segmenting/sampling
    * combination (DDFS, BLC, sampled, sparse, SiLo, extreme binning) runs
    * through the real IndexPresets.segmentAndSample over [[md5Fp40s]]
    * fingerprints, reporting per-preset file/segment/feature counts that
    * DuckDB recomputes preset by preset.
    */
  def dPresetsMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val presets = IndexPresets.names
    t(spark, dir, "documents").filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (_, text) =>
          val fps = md5Fp40s(md, text)
          presets.iterator.map { name =>
            val p = IndexPresets.preset(name)
              .copy(segmentSize = 4, segmentMin = 2, segmentMax = 16)
            val segs = IndexPresets.segmentAndSample(p)(fps)
            (name, segs.length.toLong, segs.iterator.map(_._2.size.toLong).sum)
          }
        }
      }.toDF("preset", "segments", "features")
      .groupBy(col("preset"))
      .agg(count(lit(1)).as("files"),
        sum(col("segments")).as("segments"),
        sum(col("features")).as("features"))
  }

  /** The preset candidate machinery itself — segment → sample → FIFO
    * feature index (valueLength cap) → candidate join → LOGICAL-LOCALITY
    * PREFETCH — fully value-oracled: the REAL
    * `DedupPipeline.presetCandidates` runs under a sparse-style config
    * (content-defined 4/2/16, random/2 sampling incl. the empty-sample
    * sentinel, prefetch 1, valueLength 4) over [[md5Fp40s]] fingerprints
    * with fileId = doc_id, so EVERY stage — including the FIFO recency
    * eviction order and the stream-global prefetch positions — is
    * replayable relationally in DuckDB. Streams = the `source` column;
    * file order inside a stream = zero-padded doc_id paths.
    */
  def dPresetCandMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val features = t(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, src, text) =>
          val fps = md5Fp40s(md, text)
          FileFeatures(fileId = id, repo = src, path = f"$id%010d",
            commit = "0", lang = "", size = 0, sha256 = "",
            chunks = fps.zipWithIndex.map { case (f, i) =>
              ChunkInfo(i * 256, 256, f, zero = false) },
            shingles = Array.empty, minhash = Array.empty, simhash = 0L)
        }
      }
    val icfg = IndexConfig(exact = false, logicalLocality = true,
      samplingMethod = "random", sampleRate = 2, segmentMethod = "content",
      segmentSize = 4, segmentMin = 2, segmentMax = 16,
      segmentPrefetch = 1, keyBytes = 20)
    DedupPipeline.presetCandidates(features, icfg, valueLength = 4)
  }

  /** Full near-dup clustering of documents through a destor index PRESET
    * (sparse index: content-defined segmenting + random sampling + FIFO
    * feature index) instead of MinHash LSH — the reference's own
    * similarity loop end to end (rows-only: SHA-1 features).
    */
  def dPresetClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig(
      "rabin", minSize = 64, avgSize = 256, maxSize = 2048))
    val features = DedupPipeline.featurize(files, cfg).persist()
    val icfg = IndexPresets.preset("sparse").copy(
      segmentSize = 4, segmentMin = 2, segmentMax = 16, sampleRate = 2)
    val cand = DedupPipeline.presetCandidates(features, icfg)
    val verified = DedupPipeline.verifiedPairs(cand, DedupPipeline.sigs(features), cfg)
      .select(col("a"), col("b"))
    val out = ConnectedComponents.run(
        features.select(col("fileId")).toDF("fileId"), verified, cfg.ccMaxIter)
      .withColumnRenamed("fileId", "file_id")
      .withColumnRenamed("clusterId", "cluster_id")
      .localCheckpoint(true)
    features.unpersist()
    out
  }

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
    // par(): the fixture table is ONE scan split — without it the whole
    // chunk + sha256 pass (the bulk of d_backup_stats) ran on one core
    par(spark, t(spark, dir, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text")), "doc_id").as[(Long, String)]
      .mapPartitions { it =>
        val cut = graft.chunking.Chunkers.forConfig(
          graft.chunking.ChunkerConfig("fixed", avgSize = 256))
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

  /** Index-preset matrix over the documents chunk stream: every published
    * system's forced segmenting/sampling combination (DDFS, BLC, sampled,
    * sparse, SiLo, extreme binning) applied per file, reporting segment
    * and feature counts (rows-only: SHA-1 fps aren't SQL-recomputable).
    */
  def dIndexPresets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    val features = DedupPipeline.featurize(files, cfg)
    val presets = IndexPresets.names
    features.flatMap { f =>
      val fps = f.chunks.map(_.fp)
      presets.iterator.map { name =>
        // small segments so document-sized streams actually split
        val p = IndexPresets.preset(name).copy(segmentSize = 4, segmentMin = 2, segmentMax = 16)
        val segs = IndexPresets.segmentAndSample(p)(fps)
        (name, segs.length.toLong, segs.iterator.map(_._2.size.toLong).sum)
      }
    }.toDF("preset", "segments", "features")
      .groupBy(col("preset"))
      .agg(count(lit(1)).as("files"),
        sum(col("segments")).as("segments"),
        sum(col("features")).as("features"))
  }

  // ====================================================================
  // Training-data text ops over `documents`
  // ====================================================================

  /** Exact dedup by content hash (hash-groupBy dedup). */
  def dExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("canonical"))
  }

  /** Token counting (whitespace tokenizer). */
  def dTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** BPE-ish pre-tokenization: word runs + single punctuation marks.
    * Oracle-checked: on the ASCII corpus, Java-regex and DuckDB-RE2
    * semantics of this pattern coincide (regexp_extract_all replay).
    */
  def dTokenRegex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pattern = java.util.regex.Pattern.compile("[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]")
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val m = pattern.matcher(text)
        var n = 0L
        var distinctWords = scala.collection.mutable.Set.empty[String]
        while (m.find()) {
          n += 1
          if (Character.isLetterOrDigit(text.charAt(m.start()))) distinctWords += m.group()
        }
        (id, n, distinctWords.size.toLong)
      }
      .toDF("doc_id", "n_bpe_tokens", "n_distinct_words")
  }

  /** Language-ID heuristic: English stopword hits. */
  def dLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    def hits(word: String) =
      ((length(col("text")) - length(regexp_replace(col("text"), word, "")))
        / word.length).cast("long")
    d.select(col("doc_id"),
        (hits(" the ") + hits(" and ") + hits(" of ")).as("en_hits"))
      .withColumn("predicted",
        when(col("en_hits") >= 1, "en").otherwise("unk"))
  }

  /** Quality scoring: structural ratios as exact integer counts. */
  def dQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    def countOf(ch: String) =
      (length(col("text")) - length(regexp_replace(col("text"), java.util.regex.Pattern.quote(ch), ""))).cast("long")
    d.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      countOf(" ").as("n_spaces"),
      countOf(".").as("n_dots"),
      countOf(",").as("n_commas"))
  }

  /** Gram document-frequency cap: grams appearing in more than this many
    * documents are excluded from the Jaccard self-join — the cap bounds
    * per-gram join fan-out at C(cap,2) so a boilerplate gram shared by
    * millions of docs can never go quadratic. The truncation is NOT
    * silent: [[dNgramDfStats]] reports kept/hot gram counts as a
    * first-class oracled query.
    */
  private val NgramDfCap = 32

  /** Distinct (doc_id, gram) rows with grams hashed to 64-bit via
    * xxhash64 immediately after the substring: every downstream shuffle
    * carries 8-byte longs instead of 8-char strings — the hashing a
    * 100 TB run would do; gram counting only needs EQUALITY, never the
    * gram text (collision odds at 2^64 are negligible and the DuckDB
    * string-side oracle stays green). Used by [[dNgramDfStats]];
    * [[dNgramJaccardPairs]] builds the same code-point-window grams
    * per document inside its one-shuffle flatMap (different 64-bit hash,
    * same gram definition — only equality ever matters).
    */
  private def hashedGrams(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(length(col("text")) >= 8)
    d.select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"))
      .select(col("doc_id"), xxhash64(expr("substring(text, i, 8)")).as("g"))
      .distinct()
  }

  /** Pairwise rare-gram Jaccard near-dup scores (exact, SQL-expressible
    * semantics — the DuckDB oracle replays them relationally): distinct
    * 8-grams per doc, grams with document frequency ≤ [[NgramDfCap]]
    * kept, intersection counted per gram group; set sizes and the
    * Jaccard denominator count kept grams only. Runs over ALL documents —
    * no hardcoded id cap; the DF cap is what bounds the pair fan-out at
    * C(cap,2) per gram.
    */
  /** The one-shuffle bounded-group pair/size contribution stage shared by
    * [[dNgramJaccardPairs]] and [[dWinnowPairs]] (the cap/overflow
    * semantics are oracle-bearing, so they live in exactly one place).
    * Input: (gramKey, docId) rows. Per gram group — skew-safe: state is
    * bounded at cap+1 distinct docs, hot grams are stream-drained and
    * dropped, the same overflow pattern as DedupPipeline.candidatePairs —
    * emits one size-contribution row (doc, doc, is_size=true) per kept
    * doc plus C(n,2) pair rows (a, b, is_size=false). Size rows are
    * tagged explicitly (never a doc_id sentinel: negative ids, legal for
    * Hash64.fileId-style keys, must fail loudly, not misclassify).
    */
  private def pairContrib(gramRows: Dataset[(Long, Long)], cap: Int): DataFrame = {
    val spark = gramRows.sparkSession
    import spark.implicits._
    gramRows.groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long)]) =>
        val docs = scala.collection.mutable.SortedSet.empty[Long]
        var overflow = false
        while (it.hasNext && !overflow) {
          val d = it.next()._2
          require(d >= 0L,
            s"pairContrib: negative doc id $d (id scheme not supported here)")
          docs += d
          if (docs.size > cap) overflow = true
        }
        if (overflow) Iterator.empty
        else {
          val a = docs.toArray
          a.iterator.map(x => (x, x, true)) ++
            (for { i <- a.indices.iterator; j <- (i + 1) until a.length }
              yield (a(i), a(j), false))
        }
      }
      .toDF("a", "b", "is_size")
      .localCheckpoint(true) // sizes and pair counts both read it
  }

  def dNgramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = par(spark,
      t(spark, dir, "documents").filter(length(col("text")) >= 8), "doc_id")
    // Distinct (gram-hash, doc_id) rows built per document in one typed
    // flatMap: the distinct set is bounded by the doc's own gram count
    // (never corpus-global state), and typed groupByKey has NO map-side
    // combine — shuffling raw gram instances would ship every within-doc
    // repetition. Everything the query needs (DF cap, candidate pairs,
    // per-doc kept-gram sizes) comes out of ONE gram-keyed shuffle; the
    // two tiny aggregations + one join after it run over pair/size
    // contribution rows only.
    val gramRows = d
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        // grams are windows of 8 CODE POINTS (matching SQL substr both in
        // the Spark-side dNgramDfStats and the DuckDB oracle — Java
        // substring counts UTF-16 units and would diverge on non-BMP text)
        val cps = text.codePoints().toArray
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val off = graft.functions.Hash64.utf8Offsets(cps)
        val set = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        val n = cps.length - 7
        while (i < n) {
          set += graft.functions.Hash64.hashBytes(
            bytes, off(i), off(i + 8) - off(i), 0L)
          i += 1
        }
        set.iterator.map(g => (g, id))
      }
    val contrib = pairContrib(gramRows, NgramDfCap)
    val sizes = contrib.filter(col("is_size"))
      .groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n"))
    val inter = contrib.filter(!col("is_size"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    // sizes scales with the corpus (one row per doc) so it is NOT force-
    // broadcast; AQE picks broadcast at test scale, shuffle join at 100 TB
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), Seq("b"))
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.05)
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** Winnowing document fingerprints (MOSS-style, value-oracled): 8-gram
    * md5 per position, sliding window of 4 consecutive grams, the window
    * minimum (lexicographic on the md5 hex — replayable in DuckDB where
    * the production gear rolling hash is not) is selected; the distinct
    * selected fingerprints per document are the guarantee-bearing sketch
    * (any shared substring of ≥ 11 code points yields a shared
    * fingerprint).
    *
    * The sketch is a PER-DOCUMENT PURE FUNCTION, so the Spark side is a
    * single typed mapPartitions fold — md5 per gram plus a rolling
    * w-window min computed in-JVM, per-doc distinct in bounded local
    * state — zero gram-level shuffle, zero row amplification (the only
    * Exchange is [[par]]'s guarded fixture-split repartition of the doc
    * rows, a no-op at production split counts; round 2 exploded one
    * row per character position through a shuffle + per-doc window sort:
    * a multi-PB shuffle at 100 TB for values a map can produce). The
    * DuckDB oracle keeps the relational window formulation — it
    * constrains VALUES, not the Spark plan.
    */
  def dWinnow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = 4
    par(spark, t(spark, dir, "documents")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("text")), "doc_id").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // windows of 8 CODE POINTS (SQL substr semantics; Java substring
          // counts UTF-16 units and would diverge on non-BMP text). md5
          // runs over byte slices of ONE per-doc UTF-8 encode — identical
          // digests, no per-position String + encode (r6 per-task opt).
          val cps = text.codePoints().toArray
          val n = cps.length - 7
          if (n < w) Iterator.empty
          else {
            val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val off = graft.functions.Hash64.utf8Offsets(cps)
            val hs = new Array[String](n)
            var i = 0
            while (i < n) {
              md.reset()
              md.update(bytes, off(i), off(i + 8) - off(i))
              hs(i) = DedupPipeline.toHex(md.digest())
              i += 1
            }
            // rolling window min (w=4: direct scan beats a deque), per-doc
            // distinct in a local set bounded by the doc's own gram count
            val sel = scala.collection.mutable.HashSet.empty[String]
            i = 0
            while (i <= n - w) {
              var m = hs(i)
              var j = i + 1
              while (j < i + w) { if (hs(j) < m) m = hs(j); j += 1 }
              sel += m
              i += 1
            }
            sel.iterator.map(fp => (id, fp))
          }
        }
      }
      .toDF("doc_id", "fp")
  }

  /** Winnow-sketch near-dup pairs — the MOSS approach for source code:
    * documents sharing ≥2 winnowing fingerprints, scored by containment
    * (shared fps / smaller sketch). Sub-linear in gram volume versus the
    * exact rare-gram Jaccard join (the sketch keeps ~1/window of the
    * grams) — the trade a 100 TB code-dedup run makes. Same one-shuffle
    * bounded-group pattern as [[dNgramJaccardPairs]]: fingerprints with
    * document frequency > 32 (boilerplate) are stream-drained and
    * dropped; sketch sizes count kept fps only.
    */
  def dWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = dWinnow(spark, dir)
      .select(xxhash64(col("fp")).as("g"), col("doc_id"))
      .as[(Long, Long)]
    val contrib = pairContrib(fps, NgramDfCap)
    val sizes = contrib.filter(col("is_size"))
      .groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n"))
    contrib.filter(!col("is_size"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 2)
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), Seq("b"))
      .withColumn("containment",
        round(col("overlap") / least(col("na"), col("nb")), 6))
      .select(col("a"), col("b"), col("overlap"), col("na"), col("nb"),
        col("containment"))
  }

  /** The n-gram DF-cap truncation metric (no silent caps): how many
    * distinct grams the cap keeps vs drops, and the hottest gram's DF.
    */
  def dNgramDfStats(spark: SparkSession, dir: String): DataFrame = {
    hashedGrams(spark, dir).groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("distinct_grams"),
        sum(when(col("df") <= NgramDfCap, 1L).otherwise(0L)).as("kept_grams"),
        sum(when(col("df") > NgramDfCap, 1L).otherwise(0L)).as("hot_grams"),
        max(col("df")).as("max_df"))
  }

  /** Minimum duplicated-span gram width in CODE POINTS: any substring of
    * at least this length occurring twice anywhere in the corpus
    * (including twice within one document) is detected, and overlapping /
    * adjacent duplicated grams merge into maximal spans.
    */
  private val DupSpanGram = 16

  /** (hash64(gram), doc_id, 1-based cp position) rows for every
    * [[DupSpanGram]]-cp window of every document — the shared map-only
    * scan under [[dDupSpans]] and [[dDupSpanPairs]].
    */
  private def dupGramOcc(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    val G = DupSpanGram
    par(spark, t(spark, dir, "documents").filter(length(col("text")) >= G)
        .select(col("doc_id"), col("text")), "doc_id").as[(Long, String)]
      .flatMap { case (id, text) =>
        // windows of G CODE POINTS (SQL substr semantics — Java substring
        // counts UTF-16 units and would diverge on non-BMP text). Hashed
        // over byte slices of ONE per-doc UTF-8 encode (bit-identical to
        // hashString of the gram string — r6 per-task optimization: the
        // former String + encode per position dominated the map stage).
        val cps = text.codePoints().toArray
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val off = graft.functions.Hash64.utf8Offsets(cps)
        val n = cps.length - (G - 1)
        Iterator.tabulate(n) { i =>
          (graft.functions.Hash64.hashBytes(bytes, off(i), off(i + G) - off(i), 0L),
            id, (i + 1).toLong)
        }
      }
  }

  /** Gaps-and-islands merge shared by [[dupSpanRows]] and
    * [[dDupSpanPairs]] (the gap rule is oracle-bearing, so the walk lives
    * in exactly one place — the [[pairContrib]] precedent): sorts the
    * positions in place, then emits one (runStart, runLastPos, runGrams)
    * per maximal run where consecutive kept positions are ≤ maxGap apart.
    */
  private def mergeRuns[T](pos: Array[Long], maxGap: Long)(
      emit: (Long, Long, Long) => T): Iterator[T] = {
    java.util.Arrays.sort(pos)
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var start = pos(0); var last = pos(0); var grams = 1L
    var i = 1
    while (i < pos.length) {
      val p = pos(i)
      if (p - last <= maxGap) { last = p; grams += 1 }
      else {
        out += emit(start, last, grams)
        start = p; last = p; grams = 1L
      }
      i += 1
    }
    out += emit(start, last, grams)
    out.iterator
  }

  /** Corpus-level EXACT duplicate-span detection — the distributed analog
    * of suffix-array exact-substring dedup over training corpora (the
    * ExactSubstr pass of Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): each row (doc_id, span_start,
    * span_len, dup_grams) is a maximal run of code points every one of
    * which is covered by a [[DupSpanGram]]-gram occurring ≥2 times
    * corpus-wide (grams ≤ G apart merge, so a span may bridge ≤G-cp gaps
    * between duplicated grams), positions 1-based in code points (SQL
    * substr coordinates). A suffix array is a sequential data structure;
    * the Spark-first shape is (1) a map-only rolling gram scan emitting
    * (hash64(gram), doc, pos) occurrence rows — 8-byte keys, the gram
    * text never shuffles; (2) ONE gram-keyed shuffle where an O(1)-state
    * peek-one flatMapGroups keeps exactly the occurrences of duplicated
    * grams (a boilerplate gram with 10^9 occurrences streams through —
    * never buffered, never dropped: unlike the pair queries there is no
    * quadratic fan-out to cap, output ≤ input); (3) a per-document
    * interval merge whose state is bounded by the document's own position
    * count (a file, not the corpus — the same per-doc bound [[dWinnow]]'s
    * sketch arrays carry). Occurrence volume is ~1 row per text byte,
    * inherent to EXACT substring dedup (the suffix array is the same
    * size); [[dWinnow]] is the sub-linear sketch alternative when
    * exactness can be traded. Gram equality is by xxhash64 (collision
    * odds at 2^64 negligible; the DuckDB oracle replays with true string
    * grams and stays green).
    */
  private def dupSpanRows(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val G = DupSpanGram
    val dupPos = dupGramOcc(spark, dir).groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
        val first = it.next()
        if (it.hasNext) Iterator.single(first) ++ it else Iterator.empty
      }
      .map(r => (r._2, r._3))
    dupPos.groupByKey(_._1)
      .flatMapGroups { (id: Long, it: Iterator[(Long, Long)]) =>
        // intervals [p, p+G) merge when the gap to the previous kept
        // position is ≤ G (overlap or exact adjacency)
        mergeRuns(it.map(_._2).toArray, G) { (start, last, grams) =>
          (id, start, last + G - start, grams)
        }
      }
  }

  def dDupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpanRows(spark, dir)
      .toDF("doc_id", "span_start", "span_len", "dup_grams")

  /** Per-document duplicate-coverage report over [[dDupSpans]]: span
    * count, duplicated code points, document length and the duplicated
    * fraction — the curation signal exact-substring dedup feeds (drop or
    * trim documents whose text is mostly corpus-duplicated). Every
    * document ≥ [[DupSpanGram]] code points gets a row (zero spans → zero
    * coverage).
    */
  def dDupSpanStats(spark: SparkSession, dir: String): DataFrame = {
    val agg = dDupSpans(spark, dir).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_chars"))
    t(spark, dir, "documents")
      .filter(length(col("text")) >= DupSpanGram)
      .select(col("doc_id"), length(col("text")).cast("long").as("char_len"))
      .join(agg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_chars"))
      // Duplicated fraction in integer PARTS-PER-MILLION via exact
      // round-half-up long division ((2a·10^6 + b) div 2b) — the
      // micro-unit rule (e_lsh_buckets/e_pq_adc): a raw round(double, 6)
      // is value-equal but not bit-stable across engines (Spark BigDecimal
      // HALF_UP vs DuckDB double round differ in the last ULP), which
      // kills the driver's hash even when every printed value matches.
      .withColumn("dup_ppm",
        expr("(dup_chars * 2000000 + char_len) div (2 * char_len)"))
      .select(col("doc_id"), col("n_spans"), col("dup_chars"),
        col("char_len"), col("dup_ppm"))
  }

  /** WITHIN-document repetitiveness — the self-analog of [[dDupSpans]]
    * and the Gopher-style "repeated n-gram fraction" curation signal
    * (Rae et al. 2021 §A1.1 drop documents whose own text is mostly
    * internal repetition; boilerplate/generated files score high before
    * any corpus-level pass sees them): per document, the coverage of
    * maximal runs of [[DupSpanGram]]-cp grams occurring ≥2 times WITHIN
    * that document (same G-gap merge rule as the corpus-level spans, so
    * the two fractions are directly comparable). Output one row per doc
    * ≥G cp: (doc_id, rep_spans, rep_chars, char_len, rep_ppm).
    *
    * Scale: strictly MAP-ONLY — gram counting, position filtering and
    * the interval merge all happen inside one pass over the document in
    * its own partition; the text never shuffles and there is no
    * corpus-wide key at all (the one shape that is trivially 100 TB-safe;
    * state is bounded by the longest single document, as every per-doc
    * fold here is).
    */
  def dSelfRep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val G = DupSpanGram
    // par(): the fixture table is ONE scan split, and this map pass (gram
    // hash + count per position) is the whole query — unparallelized it
    // ran on a single core (r6 measurement)
    par(spark, t(spark, dir, "documents")
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .map { case (id, text) =>
        val cps = text.codePoints().toArray
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val off = graft.functions.Hash64.utf8Offsets(cps)
        val n = cps.length - (G - 1)
        if (n < 1) (id, -1L, 0L, cps.length.toLong)
        else {
          val counts = new java.util.HashMap[Long, Integer]()
          val hs = new Array[Long](n)
          var i = 0
          while (i < n) {
            val h = graft.functions.Hash64.hashBytes(
              bytes, off(i), off(i + G) - off(i), 0L)
            hs(i) = h
            counts.merge(h, Integer.valueOf(1),
              (a, b) => Integer.valueOf(a.intValue + b.intValue))
            i += 1
          }
          val pos = scala.collection.mutable.ArrayBuffer.empty[Long]
          i = 0
          while (i < n) {
            if (counts.get(hs(i)).intValue >= 2) pos += (i + 1).toLong
            i += 1
          }
          if (pos.isEmpty) (id, 0L, 0L, cps.length.toLong)
          else {
            var spans = 0L; var covered = 0L
            mergeRuns(pos.toArray, G.toLong) { (start, last, _) =>
              spans += 1; covered += last + G - start
            }.foreach(_ => ())
            (id, spans, covered, cps.length.toLong)
          }
        }
      }
      .toDF("doc_id", "rep_spans", "rep_chars", "char_len")
      .filter(col("rep_spans") >= 0L) // docs shorter than G carry no signal
      // Integer ppm, exact half-up division — see dDupSpanStats.
      .withColumn("rep_ppm",
        expr("(rep_chars * 2000000 + char_len) div (2 * char_len)"))
  }

  /** Distributed generalized SUFFIX ARRAY over a deterministic 1/16
    * corpus slice (docs whose md5 leading nibble is '0' — the
    * [[dDecontam]] split idiom; the slice keeps the driver artifact
    * Θ(slice text) while the algorithm itself is corpus-agnostic):
    * one (doc_id, pos, srank) row per suffix, srank = the DENSE global
    * lexicographic rank — literally `dense_rank() OVER (ORDER BY
    * suffix)`, which is the DuckDB oracle verbatim. Built by
    * [[graft.operators.SuffixArray.ranks]] prefix doubling: log(maxLen)
    * rounds of fixed-width-row shuffles + the two-phase global rank, no
    * windows, no suffix strings shuffled. See the scaladoc there for the
    * 100 TB cost statement (Θ(corpus)·log(maxLen) — the exactness price
    * the gram sketches avoid).
    */
  def dSuffixRank(spark: SparkSession, dir: String): DataFrame = {
    val d = par(spark, t(spark, dir, "documents")
      .filter(col("text").isNotNull &&
        substring(md5(col("text").cast("binary")), 1, 1) === "0")
      .select(col("doc_id"), col("text")), "doc_id")
    graft.operators.SuffixArray.ranks(d)
      .select(col("doc_id"), col("pos"), col("srank"))
  }

  /** EXACT 16-cp-gram duplicate statistics via bounded suffix-array
    * prefix ranks — the collision-FREE cross-check of the hashed-gram
    * surface ([[dDupSpans]] keys on 64-bit gram hashes; this keys on
    * true prefix equality): [[graft.operators.SuffixArray.prefixRanks]]
    * covers exactly 16 codepoints (≤ a handful of adaptive-packed rank
    * rounds; ONE on an ASCII corpus) so positions with ≥16 codepoints
    * remaining share `srank` iff their 16-cp grams are byte-identical.
    * Per doc (slice docs with ≥16 cps): total gram positions, positions
    * whose gram recurs anywhere in the slice, and positions whose gram
    * appears in ≥2 distinct docs. Same 1/16 md5 corpus slice as
    * [[dSuffixRank]]. Plan: the bounded doubling rounds, one rank-keyed
    * class-stats agg, one rank join-back, one doc-keyed agg — all
    * fixed-width rows, no windows, no text shuffled past the explode.
    */
  def dSaGramStats(spark: SparkSession, dir: String): DataFrame = {
    val d = par(spark, t(spark, dir, "documents")
      .filter(col("text").isNotNull &&
        substring(md5(col("text").cast("binary")), 1, 1) === "0")
      .select(col("doc_id"), col("text")), "doc_id")
    val lens = d.select(col("doc_id"), length(col("text")).as("char_len"))
      .filter(col("char_len") >= 16)
    val pos16 = graft.operators.SuffixArray.prefixRanks(d, 16L)
      .join(lens, "doc_id")
      .filter(col("pos") <= col("char_len") - 15)
    val cls = pos16.groupBy("srank")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
    pos16.join(cls, "srank")
      .groupBy("doc_id", "char_len")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("dup_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("xdoc_grams"))
  }

  /** The trim ACTION of exact-substring dedup (the step Lee et al. 2021
    * apply after detection): every [[dDupSpans]] span is cut out of its
    * document and the surviving text is reported as (doc_id, char_len,
    * kept_len, dup_chars, kept_md5) — md5 instead of the text itself so
    * the corpus-sized output stays narrow (the same reason the dedup
    * pipeline ships digests, not content). This is the aggressive
    * variant that removes EVERY occurrence of a duplicated span (the
    * survivor-election variant needs a global choice per span family —
    * that is [[dExactDedup]]'s keep-first semantics at document
    * granularity); spans may bridge ≤G-cp gaps per the [[dupSpanRows]]
    * merge, and those bridge characters trim with the span. Shape: span
    * rows (tiny — one per maximal span) group per doc, then ONE
    * doc-keyed join back to the text and a map-side cut + md5; the kept
    * text never shuffles.
    */
  def dDupTrim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = dupSpanRows(spark, dir)
      .groupByKey(_._1)
      .mapGroups { (id: Long, it: Iterator[(Long, Long, Long, Long)]) =>
        val arr = it.map(r => (r._2, r._3)).toArray
        scala.util.Sorting.quickSort(arr)
        (id, arr.map(_._1), arr.map(_._2))
      }
      .toDF("doc_id", "starts", "lens")
    t(spark, dir, "documents")
      .filter(length(col("text")) >= DupSpanGram)
      .select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[Long]], Option[Seq[Long]])]
      .map { case (id, text, so, lo) =>
        val cps = text.codePoints().toArray
        val starts = so.getOrElse(Seq.empty)
        val lens = lo.getOrElse(Seq.empty)
        val sb = new java.lang.StringBuilder
        var cur = 0 // 0-based next cp; spans are disjoint and sorted
        var i = 0
        while (i < starts.length) {
          val s0 = (starts(i) - 1).toInt
          if (s0 > cur) sb.append(new String(cps, cur, s0 - cur))
          cur = s0 + lens(i).toInt
          i += 1
        }
        if (cur < cps.length) sb.append(new String(cps, cur, cps.length - cur))
        val kept = sb.toString
        (id, cps.length.toLong,
          kept.codePointCount(0, kept.length).toLong, kept)
      }
      .toDF("doc_id", "char_len", "kept_len", "kept_text")
      .select(col("doc_id"), col("char_len"), col("kept_len"),
        (col("char_len") - col("kept_len")).as("dup_chars"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))
  }

  /** Occurrence cap for [[dDupSpanPairs]]: grams whose TOTAL corpus
    * occurrence count exceeds this are boilerplate and contribute no
    * cross-document matches (stream-drained, never buffered — the same
    * overflow pattern as [[pairContrib]]). The cap is oracle-bearing:
    * the DuckDB replay applies `HAVING count(*) <= 32` identically.
    */
  private val DupPairOccCap = 32

  /** Cross-document EXACT shared-substring runs — the pair-level output
    * of suffix-array substring matching (clone detection over source
    * code): for every unordered doc pair (a < b), every maximal run of
    * consecutive shared [[DupSpanGram]]-grams on one alignment diagonal
    * is one row (a, b, a_start, b_start, run_grams, run_len) — a run of
    * k grams is a shared exact substring of k+G-1 code points starting
    * at a_start in a and b_start in b (1-based cp positions). Where
    * [[dDupSpans]] answers "which of MY text is duplicated anywhere",
    * this answers "which doc pairs share exact spans, and where" — the
    * candidate-pair input near-dup clustering verifies.
    *
    * Scale shape: the [[dupGramOcc]] map-only scan feeds ONE gram-keyed
    * shuffle whose per-group state is bounded at [[DupPairOccCap]]+1
    * occurrences (hot boilerplate grams stream-drain and drop — no
    * quadratic fan-out on skew); match rows then take ONE
    * (a,b,diagonal)-keyed shuffle whose group state is bounded by the
    * positions the two docs share on one diagonal (≤ the smaller doc's
    * gram count — a file, not the corpus). Runs never cross diagonals,
    * so the tighter (a,b,diag) key beats an (a,b) key for free.
    */
  def dDupSpanPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val G = DupSpanGram
    val matches = dupGramOcc(spark, dir).groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
        val occ = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var overflow = false
        while (it.hasNext && !overflow) {
          val r = it.next()
          occ += ((r._2, r._3))
          if (occ.size > DupPairOccCap) overflow = true
        }
        if (overflow) Iterator.empty
        else for {
          i <- occ.indices.iterator
          j <- occ.indices.iterator
          if occ(i)._1 < occ(j)._1 // cross-doc, unordered pair a < b
        } yield {
          val (a, pa) = occ(i); val (b, pb) = occ(j)
          (a, b, pb - pa, pa)
        }
      }
    matches.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (Long, Long, Long), it: Iterator[(Long, Long, Long, Long)]) =>
        val (a, b, diag) = key
        // only consecutive gram positions (step 1 = maxGap 1) extend the
        // exact run; anything larger breaks it (unlike dDupSpans' ≤G
        // merge, a PAIR run must be contiguous in BOTH docs to be one
        // shared substring)
        mergeRuns(it.map(_._4).toArray, 1L) { (start, _, grams) =>
          (a, b, start, start + diag, grams, grams + G - 1)
        }
      }
      .toDF("a", "b", "a_start", "b_start", "run_grams", "run_len")
  }

  /** Eval-set decontamination — the benchmark-overlap gate every training
    * corpus needs: a deterministic held-out slice (docs whose md5 leading
    * nibble ∈ {0,1}, ~1/8 of the corpus — in production this is the
    * benchmark table) contributes its distinct 8-token shingles (tokens =
    * `[A-Za-z0-9_]+` runs, joined by a single space — tokens cannot
    * contain spaces, so the join is injective); every TRAINING document
    * reports how many of its distinct shingles appear anywhere in the
    * eval set, plus the contaminated flag. Shingles shuffle as 8-byte
    * xxhash64 keys; the eval side is distinct-reduced before the
    * left-semi match, so at scale it is benchmark-sized and AQE
    * broadcasts it while the training side's single shuffle stays keyed
    * on the hash. Output covers training docs with ≥1 shingle (≥8
    * tokens).
    */
  def dDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 8
    // null-text rows contribute nothing either way (the oracle's NULL
    // is_eval fails both WHERE branches); without the guard they would
    // crash typed deserialization into the non-nullable tuple
    val d = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull), "doc_id")
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '[A-Za-z0-9_]+', 0)").as("ts"),
        substring(md5(col("text").cast("binary")), 1, 1)
          .isin("0", "1").as("is_eval"))
    val sh = d.as[(Long, Seq[String], Boolean)]
      .flatMap { case (id, toks, ev) =>
        // per-doc distinct in local state bounded by the doc's own token
        // count (typed groupByKey has no map-side combine — shipping raw
        // shingle instances would ship every within-doc repetition)
        val set = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        val n = toks.length - (W - 1)
        while (i < n) {
          set += graft.functions.Hash64.hashString(
            toks.slice(i, i + W).mkString(" "))
          i += 1
        }
        set.iterator.map(h => (id, ev, h))
      }
      .toDF("doc_id", "is_eval", "h")
      .localCheckpoint(true) // eval and training sides both read it
    val ev = sh.filter(col("is_eval")).select(col("h")).distinct()
    val tr = sh.filter(!col("is_eval")).select(col("doc_id"), col("h"))
    // ev is distinct on h, so the left join never duplicates a tr row —
    // count(hit) counts exactly the matched shingles, and n_shingles and
    // matched come out of ONE doc-keyed aggregation. No per-doc join:
    // the earlier two-agg + left-join formulation made AQE broadcast the
    // matched-counts side, which is corpus-sized (one row per
    // contaminated doc) at 100 TB; here the only join is shingle-keyed
    // with the benchmark-sized eval side as the build side.
    tr.join(ev.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("matched"))
      .withColumn("contaminated", col("matched") > 0)
      .select(col("doc_id"), col("n_shingles"), col("matched"),
        col("contaminated"))
  }

  /** Clone-pair similarity threshold, percent. At 70 the bag-overlap
    * metric separates real near-dups from the corpus's shared-vocabulary
    * noise floor (θ=0.7 is also SourcererCC's shipped default).
    */
  private val CloneThetaPct = 70

  /** Token-bag ELEMENT stream for the clone detector: one row per
    * (doc, token, occurrence-index k). Multiset overlap Σ min(cā, c_b)
    * is exactly SET intersection over these (tok, k) elements, so the
    * whole bag algorithm — prefix filtering included — reduces to the
    * set case. Tokens are lowercase [a-z0-9_]+ runs (the code-ish
    * tokenizer DuckDB replays with string_split_regex).
    */
  private def cloneElems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // A doc's whole token bag lives in ONE input row, so tokenize +
    // multiset-count + element hashing are all map-side: no exploded
    // token-string row ever shuffles (round-4 rewrite — the previous
    // groupBy(doc_id, tok) shuffled the full token stream as strings).
    // The element hash chains exactly like the SQL xxhash64(tok, k).
    par(spark, t(spark, dir, "documents")
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { it =>
        val sep = java.util.regex.Pattern.compile("[^a-z0-9_]+")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val counts = scala.collection.mutable.HashMap.empty[String, Int]
            // Locale.ROOT: locale-independent like the SQL lower() this
            // replaced (a tr_TR JVM default would fold I→ı)
            sep.split(text.toLowerCase(java.util.Locale.ROOT)).foreach { tok =>
              if (tok.nonEmpty) counts(tok) = counts.getOrElse(tok, 0) + 1
            }
            counts.iterator.flatMap { case (tok, c) =>
              val b = tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val th = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                  b.length, 42L)
              (1 to c).iterator.map { k =>
                (id, org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashLong(k.toLong, th))
              }
            }
          }
        }
      }
      .toDF("doc_id", "h")
  }

  /** SourcererCC-style code-clone pairs (Sajnani et al., ICSE 2016 —
    * the token-bag clone detector for source code, the published
    * scale-out answer the reference's near-dup family lacks): two docs
    * are clones iff their token-bag overlap Σ min(count_a, count_b) ≥
    * θ·max(|A|,|B|), θ = 0.7, integer-exact as 100·inter ≥ 70·max.
    *
    * Candidate generation is PREFIX FILTERING: bag elements (tok, k) —
    * hashed to 8 bytes map-side, tokens never shuffle as strings — get
    * a global rarity order (document frequency asc, element hash) and
    * only each doc's first n − ⌈θn⌉ + 1 elements in that order — its
    * RAREST tokens — become join keys. Any pair meeting θ must share a
    * prefix element (PPJoin's prefix lemma — any consistent total order
    * works), so recall is lossless: the DuckDB oracle is the UNFILTERED
    * brute-force bag join over the token STRINGS, and hash-green proves
    * both that no pair is dropped and that no element-hash collision
    * perturbed a count. The scale win is structural: a boilerplate
    * token in every doc is in almost no doc's prefix, so the join-key
    * frequency distribution self-flattens — the skew the gram-keyed
    * near-dup family needs an explicit df cap for ([[dDupSpanPairs]])
    * never forms. Length filter 100·min ≥ 70·max prunes candidates
    * before the verify join; verify intersects the per-doc sorted
    * element-hash arrays with the codegen'd
    * [[graft.functions.IntersectSorted]] merge scan (doc-keyed joins,
    * text never shuffles past tokenization).
    */
  def dClonePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val elems = cloneElems(spark, dir)
    // element hashes are 8 bytes — df count, rarity join and the per-doc
    // regroup shuffle nothing wider (token strings never leave the map
    // stage); global rarity order is (df, h), any consistent total order
    // satisfies the prefix lemma
    val dfreq = elems.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = elems.join(dfreq, Seq("h"))
      .select(col("doc_id"), col("df"), col("h"))
    val docs = ranked.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (id: Long, it: Iterator[(Long, Long, Long)]) =>
        // buffers one doc's elements — bounded by the doc's token count
        val arr = it.map { case (_, df, h) => (df, h) }.toArray
        val n = arr.length
        val alpha = (n * CloneThetaPct + 99) / 100 // ⌈θn⌉, integer-exact
        val p = n - alpha + 1
        scala.util.Sorting.quickSort(arr) // (df, h) rarity order
        val prefix = arr.take(p).map(_._2)
        val sorted = arr.map(_._2)
        java.util.Arrays.sort(sorted)
        (id, n.toLong, sorted, prefix)
      }
      .toDF("doc_id", "n", "toks", "prefix")
      .localCheckpoint(true) // prefix join and verify join both read it
    // posexplode: the element's index within the rarity-ordered prefix —
    // which is its index in the doc's FULL rarity order, since the prefix
    // is its head — drives the PPJoin POSITIONAL filter below
    val pre = docs.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("p", "h")))
    // r6: two lossless pruning layers BEFORE the dedup exchange — the
    // length filter, plus PPJoin's positional filter (Xiao et al. 2008):
    // a pair's overlap is at most 1 + min(elements of a at/after this
    // match, same for b) in the shared rarity order, and for a
    // qualifying pair the FIRST shared prefix element always passes this
    // bound, so dropping matched rows that fail it never drops a
    // qualifying pair. (Measured NEUTRAL on the fixture corpus: its
    // near-dups are near-EQUAL-sized, and for na ≈ nb every prefix
    // position passes the bound by construction — the filter bites on
    // size-mismatched pairs, the shape real mixed corpora produce.) The
    // dedup then ships (a, b) ONLY — na/nb are functions of the doc ids
    // (re-attached by the verify joins below). (A SHUFFLE_HASH hint on
    // the self-join was tried and measured 2.5× WORSE: AQE broadcasts
    // the prefix side here, and the hint blocked that.)
    val cand = pre.toDF("a", "na", "pa", "h")
      .join(pre.toDF("b", "nb", "pb", "h"), Seq("h"))
      .filter(col("a") < col("b") &&
        least(col("na"), col("nb")) * 100 >=
          greatest(col("na"), col("nb")) * CloneThetaPct &&
        (lit(1) + least(col("na") - 1 - col("pa"), col("nb") - 1 - col("pb"))) * 100 >=
          greatest(col("na"), col("nb")) * CloneThetaPct)
      .select(col("a"), col("b"))
      .dropDuplicates(Seq("a", "b"))
    val arrays = docs.select(col("doc_id"), col("n"), col("toks"))
    cand
      .join(arrays.toDF("a", "n_a", "ta"), Seq("a"))
      .join(arrays.toDF("b", "n_b", "tb"), Seq("b"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"),
        graft.functions.IntersectSorted(col("ta"), col("tb")).as("inter"))
      .filter(col("inter") * 100 >=
        greatest(col("n_a"), col("n_b")) * CloneThetaPct)
  }

  /** Clone GROUPS: connected components over the [[dClonePairs]] edges —
    * every doc (null-text and token-free docs included, as singletons)
    * labeled with the min doc_id of its clone class. Reuses the
    * log-diameter pointer-jumping CC; the oracle closes the same edge
    * set with a recursive min-label CTE.
    */
  def dCloneGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val edges = dClonePairs(spark, dir).select(col("a"), col("b"))
    ConnectedComponents.run(docs.toDF("fileId"), edges)
      .select(col("fileId").as("doc_id"), col("clusterId").as("cluster_id"))
  }

  /** Deterministic north-rule-shaped files table (repo, path, content)
    * derived from the documents corpus: docs shard into 40 repos per
    * source, paths derive from the content digest (so repos holding the
    * same texts lay them out identically — the fork/vendoring structure
    * repo-granularity dedup detects), and every repo gets a "_fork"
    * sibling carrying the ⅔ of its files with doc_id % 3 ≠ 0 — a
    * genuine partial fork with Jaccard ≈ ⅔ against its base. The DuckDB
    * oracles rebuild the identical table, so the whole repo layer is
    * value-checked end to end.
    */
  private def repoFiles(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"), md5(col("text")).as("m"))
    val path = concat(lit("d"), substring(col("m"), 1, 1), lit("/e"),
      substring(col("m"), 2, 1), lit("/"), substring(col("m"), 1, 10), lit(".txt"))
    val base = d.select(
      concat(col("source"), lit("_r"), (col("doc_id") % 40).cast("string")).as("repo"),
      path.as("path"), col("text").as("content"))
    val fork = d.filter(col("doc_id") % 3 =!= 0).select(
      concat(col("source"), lit("_r"), (col("doc_id") % 40).cast("string"),
        lit("_fork")).as("repo"),
      path.as("path"), col("text").as("content"))
    base.unionAll(fork)
  }

  private val repoFilesSql =
    """docs AS MATERIALIZED (
      |  SELECT doc_id, source, text, md5(text) AS m
      |  FROM documents WHERE text IS NOT NULL),
      |files AS MATERIALIZED (
      |  SELECT source || '_r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
      |    'd' || substr(m, 1, 1) || '/e' || substr(m, 2, 1) || '/' ||
      |      substr(m, 1, 10) || '.txt' AS path,
      |    m AS h
      |  FROM docs
      |  UNION ALL
      |  SELECT source || '_r' || CAST(doc_id % 40 AS VARCHAR) || '_fork',
      |    'd' || substr(m, 1, 1) || '/e' || substr(m, 2, 1) || '/' ||
      |      substr(m, 1, 10) || '.txt',
      |    m
      |  FROM docs WHERE doc_id % 3 <> 0)""".stripMargin

  /** DuckDB twin of [[operators.RepoDedup]]'s 48-bit digest prefix:
    * Horner sum over the first 12 hex nibbles of an md5 column (DuckDB
    * has no conv(); Spark's `conv(substr(md5, 1, 12), 16, 10)` computes
    * the same value).
    */
  private def h48Sql(m: String): String = hexSql(m, 1, 12)

  /** ENGINE half of the 48-bit md5 content-rank contract ([[h48Sql]] is
    * the oracle half): the first 12 hex nibbles of md5 over `c`'s UTF-8
    * bytes as a BIGINT. All content-deterministic selection orders
    * (quota, mix, rebalance, sharding) route through this one
    * definition — widening to more digest bits (the d_fork_families
    * collision lesson for production vocabularies) happens here and in
    * h48Sql together, or not at all.
    */
  private def m48Col(c: String): org.apache.spark.sql.Column =
    expr(s"cast(conv(substring(md5(cast($c as binary)), 1, 12), 16, 10) as bigint)")

  /** General hex-window Horner: the integer value of `n` hex nibbles of
    * `m` starting at 1-based offset `off` (DuckDB twin of Spark's
    * `conv(substring(m, off, n), 16, 10)`).
    */
  private def hexSql(m: String, off: Int, n: Int): String =
    (0 until n).map { p =>
      val pow = 1L << (4 * (n - 1 - p))
      s"(strpos('0123456789abcdef', substr($m, ${off + p}, 1)) - 1) * ${pow}"
    }.mkString("(", " + ", ")")

  /** Repo-granularity fork detection over the derived (repo, path,
    * content) table — [[operators.RepoDedup.forkPairs]] at θ = 0.5. The
    * oracle is the UNFILTERED brute-force set join, so hash-green
    * certifies the prefix filter lossless at repo granularity too.
    */
  def dRepoForks(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.forkPairs(repoFiles(spark, dir), 50)

  /** Fork families: connected components over the fork edges; family =
    * lexicographically smallest member repo. */
  def dForkFamilies(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.forkFamilies(repoFiles(spark, dir), 50)

  /** Fork retention action: one canonical repo per family (most files,
    * ties → smallest name), keep/drop per repo. */
  def dForkPrune(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.forkPrune(repoFiles(spark, dir), 50)

  /** Merkle-style directory-subtree census over the derived files table
    * ([[operators.RepoDedup.dirCensus]]): order-independent 48-bit
    * subtree signatures, cross-location share counts.
    */
  def dMerkleDirs(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.dirCensus(repoFiles(spark, dir))

  /** Subtree retention action over the derived files table
    * ([[operators.RepoDedup.dirPrune]]): one canonical location per
    * identical-subtree class, every other location marked prunable. */
  def dMerklePrune(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.dirPrune(repoFiles(spark, dir))

  /** Commit-chain dedup ([[operators.RepoDedup.commitDeltas]]) over a
    * derived 4-commit history: each repo grows (docs arrive at commit
    * doc_id % 4) and every fifth doc mutates at commit 2 — so the
    * deltas exercise arrival, carry-over AND modification. Fully
    * integer/md5-deterministic; the oracle replays the whole chain.
    */
  def dCommitDeltas(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
    val files = d
      .select(col("doc_id"), col("source"), col("text"),
        explode(sequence(lit(0L), lit(3L))).as("cseq"))
      .filter(col("doc_id") % 4 <= col("cseq"))
      .select(
        concat(col("source"), lit("_r"), (col("doc_id") % 40).cast("string"))
          .as("repo"),
        col("cseq"),
        concat(lit("f"), col("doc_id").cast("string"), lit(".txt")).as("path"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("#v"),
            floor(col("cseq") / 2).cast("string")))
          .otherwise(col("text")).as("content"))
    operators.RepoDedup.commitDeltas(files)
  }

  /** A5-analog rollup aggregation (grouping sets over the doc corpus). */
  def dRollupStats(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(length(col("text")).cast("long")).as("chars"))
  }

  /** End-to-end corpus curation — the canonical training-data pass
    * composed from the individual operators: (1) quality gate (min length
    * + min whitespace ratio, integer arithmetic only), (2) exact dedup
    * over md5(text) keeping the lowest doc_id (the shuffle key is the
    * fixed-width digest, never the text — bounded payload at 100 TB),
    * (3) per-(lang, source) retention report: total docs, dropped by
    * quality, dropped as duplicates, kept. Fully SQL-expressible; the
    * DuckDB oracle replays all three stages.
    */
  def dCuration(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_spaces",
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long"))
      .withColumn("quality_ok",
        col("n_chars") >= 100 && col("n_spaces") * 100 >= col("n_chars") * 5)
    val qok = d.filter(col("quality_ok")).withColumn("h", md5(col("text")))
    val keep = qok.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val marked = qok.join(keep, Seq("h"))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
    val dupStats = marked.groupBy(col("lang"), col("source"))
      .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("drop_dup"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("kept"))
    d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(when(!col("quality_ok"), 1L).otherwise(0L)).as("drop_quality"))
      .join(dupStats, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("drop_dup", "kept"))
  }

  /** Distinct character 5-gram shingles per document. */
  def dNgramShingles(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 4)).as("i"))
      .select(col("doc_id"), expr("substring(text, i, 5)").as("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shingles"))
  }

  // PII patterns shared verbatim by the engine (Java regex) and the
  // DuckDB oracle (RE2) — restricted to the dialect-identical subset:
  // no lookaround, no backrefs, ASCII classes, ASCII \b only.
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiPhone = "\\+\\d[\\d-]{7,}\\d"

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before release: count and replace emails / IPv4s / phone
    * numbers. STRICTLY map-only (one pruned (doc_id, text) scan, zero
    * shuffles — trivially 100 TB-safe; regexp_count/replace are
    * codegen'd builtins, no UDF).
    *
    * The synthetic corpus contains no PII, so — the m_* precedent —
    * the query first APPENDS deterministic PII spans (email every 5th
    * doc, IPv4 every 7th, phone every 11th, all pure SQL arithmetic on
    * doc_id) and then scrubs them: the DuckDB oracle replays the same
    * augmentation, so the counts AND the md5 of the scrubbed text
    * value-check the detection and the replacement — nonzero matches at
    * every sf, not a vacuously green zero-hit run. Scrub order is part
    * of the contract: email → IP → phone, globally, both engines.
    */
  def dPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = t(spark, dir, "documents")
      .select(col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail-"), (col("doc_id") % 13).cast("string"),
              lit(".example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" node 10."), (col("doc_id") % 256).cast("string"),
              lit("."), ((col("doc_id") * 7) % 256).cast("string"),
              lit("."), (col("doc_id") % 200).cast("string"),
              lit(" up"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call +1-555-"),
              ((col("doc_id") % 9000) + 1000).cast("string"), lit("-"),
              (((col("doc_id") * 3) % 9000) + 1000).cast("string"),
              lit(" soon"))).otherwise(lit(""))).as("aug"))
    aug.select(col("doc_id"),
      regexp_count(col("aug"), lit(PiiEmail)).cast("long").as("n_email"),
      regexp_count(col("aug"), lit(PiiIp)).cast("long").as("n_ip"),
      regexp_count(col("aug"), lit(PiiPhone)).cast("long").as("n_phone"),
      md5(regexp_replace(regexp_replace(regexp_replace(col("aug"),
        PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiPhone, "<PHONE>")
        .cast("binary")).as("scrub_md5"))
  }

  /** Corpus-statistics "LM familiarity" quality score — the offline
    * proxy for the CCNet/Gopher perplexity filter (model-based
    * filtering, distinct from [[dCuration]]'s surface heuristics):
    * score each document by how familiar its char-3-grams are to the
    * WHOLE corpus's gram distribution. `mean_freq_micro` = per-doc mean
    * corpus-count over its gram occurrences (×1e6, exact round-half-up
    * integer division — the micro-unit rule); `rare_ppm` = the fraction
    * of occurrences whose gram sits under HALF the corpus mean count
    * (2·cnt·D < T, D = distinct grams, T = total occurrences —
    * corpus-RELATIVE, so the threshold carries to any corpus size).
    * Gibberish scores low familiarity / high rarity; boilerplate the
    * opposite.
    *
    * Scale: the model (gram, cnt) is bounded by charset³ independent of
    * corpus size — one combinable agg, then BROADCAST into the scoring
    * join so the unbounded occurrence stream never shuffles on gram;
    * the only other shuffle is the doc-keyed rollup. (D, T) is one
    * O(1) collected scalar row. All-integer arithmetic end to end.
    */
  def dGramQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Map-side per-doc 3-gram MULTISET bag (r6, round-5 ADVICE): built in
    // bounded local state (the doc's own gram count) as (doc_id, gram, n)
    // rows — the former explode lineage shipped one row per OCCURRENCE
    // through the model aggregation and the scoring join; bag rows carry
    // counts, and every downstream value is the identical integer (sums
    // weight by n).
    val bag = par(spark, t(spark, dir, "documents")
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val cps = text.codePoints().toArray
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        val n = cps.length - 2
        while (i < n) {
          // 3 CODE POINTS — identical to the former SQL substring(text,i,3)
          val g = new String(cps, i, 3)
          m.update(g, m.getOrElse(g, 0L) + 1L)
          i += 1
        }
        m.iterator.map { case (g, c) => (id, g, c) }
      }
      .toDF("doc_id", "gram", "n")
      // NOT checkpointed (measured 0.86 vs 1.08 s at sf0.1): both
      // consumers re-run the cheap map-side bag build over the SHARED
      // par() exchange (AQE reuses that stage), which beats writing and
      // re-reading a corpus-sized bag materialization at every scale the
      // recompute is map-only
    val model = bag.groupBy(col("gram")).agg(sum(col("n")).as("cnt"))
      .localCheckpoint(true) // reused: the scalar row + the broadcast side
    val scal = model.agg(count(lit(1)).as("d"), sum(col("cnt")).as("t")).head()
    // empty filtered corpus → sum is NULL; tt = 0 keeps the (empty)
    // plan well-typed instead of NPEing at query construction
    val dd = scal.getLong(0)
    val tt = if (scal.isNullAt(1)) BigDecimal(0) else BigDecimal(scal.getLong(1))
    // decimal(38,0) everywhere a product of corpus-scale counts appears:
    // sc (Σ cnt over a doc) times 2e6, and cnt·2·D in the rare test, both
    // overflow BIGINT on a corpus a few orders past the test sfs — the
    // DuckDB twin computes them in HUGEINT, so the engine must not wrap
    // the rare test (cnt·2·D < T) is per-GRAM, so decide it ONCE on the
    // bounded model side (≤ charset³ rows) before broadcasting — the
    // unbounded occurrence stream then carries only long sums, keeping
    // the decimal(38,0) multiply off the hot path
    val tagged = model.withColumn("rare",
      when(col("cnt").cast("decimal(38,0)") * lit(2L * dd)
        < lit(tt.underlying()), 1L).otherwise(0L))
    bag.join(broadcast(tagged), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_grams"),
        sum(col("cnt").cast("decimal(38,0)") * col("n")).as("sc"),
        sum(col("rare") * col("n")).as("rc"))
      .select(col("doc_id"), col("n_grams"),
        expr("cast((sc * 2000000 + n_grams) div (2 * n_grams) as bigint)")
          .as("mean_freq_micro"),
        expr("(rc * 2000000 + n_grams) div (2 * n_grams)").as("rare_ppm"))
  }

  /** Per-domain quota cap for [[dQuotaSample]]. Small enough to BIND on
    * the 20-source fixture corpus at every sf (so the sample is a real
    * selection, not a pass-through); the knob a production run sizes per
    * domain budget.
    */
  private val DomainQuota = 10

  /** Per-domain quota sampling — the domain-balancing ACTION a web-scale
    * corpus runs so no single domain dominates the training mix: keep at
    * most [[DomainQuota]] documents per `source`, selected
    * content-deterministically (rank = md5-of-text order, doc_id
    * tie-break) so the sample is reproducible across runs and cluster
    * sizes with NO RNG state. Shape: ONE map-side-combinable
    * [[graft.functions.TopKBy]] aggregate per source — ≤Q rows per
    * (partition, source) cross the shuffle and nothing is globally
    * sorted, exactly the hot-domain case where a `row_number` window
    * would funnel one task per mega-domain. The 48-bit md5 prefix is the
    * established [[h48Sql]] integer order (collisions land on the
    * doc_id tie-break identically in both engines).
    */
  def dQuotaSample(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        m48Col("text").as("m48"))
    d.groupBy(col("source"))
      .agg(graft.functions.TopKBy(-col("m48"), col("doc_id"), DomainQuota)
        .as("topk"))
      .select(col("source"), posexplode(col("topk")))
      .select(col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** Vocabulary size for [[dVocabOov]] — deliberately smaller than the
    * fixture corpus's 31 token types so the boundary BINDS and the OOV
    * rate is nonzero at every sf (the review-caught vacuity: at 32 the
    * top-V vocab swallowed the whole fixture vocabulary and the oracle's
    * OOV arm was identically zero); a production run sizes this to the
    * tokenizer budget.
    */
  private val VocabSize = 16

  /** Frequency-vocabulary construction + per-document OOV rate — the
    * tokenizer-budget diagnostic every training-data pipeline runs
    * (which documents will shatter into unknown tokens?): vocab = the
    * [[VocabSize]] most frequent tokens (count desc, token asc — total
    * order, so the boundary is deterministic), then per doc the fraction
    * of token occurrences outside the vocab, in exact integer ppm.
    *
    * Scale: token-count agg is map-side combinable (cardinality =
    * vocabulary, not corpus); vocab selection is a global top-V over
    * that bounded table (TakeOrdered, V rows — never a window); the
    * scoring join BROADCASTS the V-row vocab so the occurrence stream
    * shuffles only for the doc-keyed rollup.
    */
  def dVocabOov(spark: SparkSession, dir: String): DataFrame = {
    // one tokenize pass, checkpointed as the per-doc bag — vocab census
    // and scoring both read the fence instead of re-tokenizing; counts
    // carry through `c` so the values are identical to the occurrence
    // stream's
    val bag = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
          .as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = bag.groupBy(col("tok")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(VocabSize)
      .select(col("tok")).withColumn("inv", lit(1))
    bag.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("inv").isNull, col("c")).otherwise(0L)).as("oov"))
      .withColumn("oov_ppm",
        expr("(oov * 2000000 + n_tokens) div (2 * n_tokens)"))
  }

  /** Bloom-filter incremental dedup — the approximate-membership gate an
    * ingest pipeline runs against the EXISTING corpus before paying the
    * exact-index join: the even-doc_id half of the corpus is the
    * "already ingested" store, the odd half is the arriving batch.
    * Filter: k=4 probe positions per digest, each the integer value of 8
    * md5 hex nibbles mod m, with m sized from the store (8 bits/key,
    * the honest Bloom sizing — fill factor and FP rate are then
    * sf-INVARIANT, so the driver check is never vacuously FP-free).
    * Emits per batch doc: bits_set (0-4), bloom_hit (all probes set)
    * and exact_dup (true membership via the md5 join the Bloom
    * replaces — the labeled evaluation arm), so the row set
    * value-checks zero-false-negative behavior AND the FP population.
    * To keep the true-positive arm non-vacuous at every sf (identical
    * texts always land on the same side of any content split, and the
    * fixture's doc-parity dup pairs only appear at sf0.1), the batch
    * deterministically RE-SENDS every (10k+1)-id document with its even
    * neighbor's content — the re-crawl case Bloom ingest gates exist
    * for; the oracle replays the same substitution.
    *
    * Scale: the bit-position set is bounded by m = 8·|store| — but the
    * engine never materializes per-key state wider than a (pos) row;
    * the distinct-pos table is ≤m rows and broadcasts, the probe side
    * is map-only + one doc-keyed rollup. The exact arm is a digest-keyed
    * shuffle join (corpus-sized build — deliberately NOT broadcast).
    */
  def dBloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("m0"))
    val resend = base.select((col("doc_id") + 1).as("doc_id"),
      col("m0").as("mprev"))
    // eager localCheckpoint (the repo's fence pattern, ContextCleaner-
    // freed — NOT an unpaired persist): the narrow (doc_id, digest)
    // table feeds the sizing count, the bit-set build, the probe side
    // AND the exact arm — without it each re-derives the md5 scan +
    // augmentation self-join
    val d = base.join(resend, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1 && col("mprev").isNotNull,
          col("mprev")).otherwise(col("m0")).as("m"))
      .localCheckpoint(true)
    val nStore = d.filter(col("doc_id") % 2 === 0).count()
    val m = math.max(64L, 8L * nStore)
    val probeCols = (0 until 4).map { j =>
      expr(s"cast(conv(substring(m, ${1 + 8 * j}, 8), 16, 10) as bigint) % $m")
        .as(s"p$j")
    }
    val bits = d.filter(col("doc_id") % 2 === 0)
      .select(explode(array(probeCols: _*)).as("pos")).distinct()
      .withColumn("set", lit(1))
    val probed = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("m"),
        explode(array(probeCols: _*)).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("m"))
      .agg(sum(when(col("set").isNotNull, 1L).otherwise(0L)).as("bits_set"))
    val store = d.filter(col("doc_id") % 2 === 0)
      .select(col("m")).distinct().withColumn("dup", lit(1))
    probed.join(store, Seq("m"), "left")
      .select(col("doc_id"), col("bits_set"),
        (col("bits_set") === 4L).as("bloom_hit"),
        col("dup").isNotNull.as("exact_dup"))
  }

  /** Paragraph window for [[dParaDedup]] — the corpus has no newline
    * structure, so "paragraphs" are fixed [[ParaTokens]]-token windows of
    * the whitespace token stream (deterministic, both-engine replayable);
    * a production run splits on real paragraph breaks and the pipeline
    * shape is identical.
    */
  private val ParaTokens = 12

  /** Paragraph-level exact dedup + document RECONSTRUCTION — the
    * CCNet/RefinedWeb curation pass one granularity below document
    * dedup: every duplicated paragraph except its corpus-wide FIRST
    * occurrence (first writer = min (doc_id, pid)) is dropped, and each
    * document is rebuilt from its surviving paragraphs in order.
    *
    * Scale shape: paragraphs are derived MAP-SIDE with higher-order
    * slice/transform over the token array and only their 16-byte md5
    * ever shuffles (paragraph TEXT stays in the scan task); first-writer
    * is ONE combinable min(struct) agg on the hash; verdicts re-join the
    * hash stream hash-keyed; the kept-pid list rolls up doc-keyed
    * (bounded by the doc's own length — the d_dup_trim span-list bound)
    * and reconstruction + digesting run map-side against the original
    * text after a doc-keyed join. No windows, no per-doc sort tasks:
    * `sort_array` sorts one doc's bounded pid list inside its row.
    */
  def dParaDedup(spark: SparkSession, dir: String): DataFrame = {
    val P = ParaTokens
    val docs = par(spark, t(spark, dir, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text")),
      "doc_id")
    val paras = docs
      .withColumn("ts", expr("split(text, ' ')"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(ts) + ${P - 1}) div $P - 1), " +
          s"i -> md5(cast(array_join(slice(ts, i * $P + 1, $P), ' ') as binary)))")))
      .select(col("doc_id"), col("pos").cast("long").as("pid"),
        col("col").as("h"))
    val fw = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pid"))).as("w"))
    val verdicts = paras.join(fw, Seq("h"))
      .select(col("doc_id"), col("pid"),
        (col("w.doc_id") === col("doc_id") && col("w.pid") === col("pid"))
          .as("keep"))
    val perDoc = verdicts.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_paras"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sort_array(collect_list(when(col("keep"), col("pid")))).as("kept"))
    perDoc.join(docs, Seq("doc_id"))
      .withColumn("ts", expr("split(text, ' ')"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        expr(s"md5(cast(array_join(transform(kept, " +
          s"p -> array_join(slice(ts, cast(p as int) * $P + 1, $P), ' ')), " +
          "'\\n') as binary))").as("kept_md5"))
  }

  /** Top-k for [[dTfidfTopterms]] and the integer score scale (exact in
    * both engines: BIGINT multiply then integer-divide).
    */
  private val TfidfK = 3
  private val TfidfScale = 1000000000L

  /** Per-document tf·idf top terms — the keyword/feature-extraction pass
    * (quality signals, topic routing) expressed hash-stably: score =
    * exact integer `tf·SCALE div df` (identical integer division in both
    * engines, no floats anywhere), ranked per doc by the native
    * map-side-combinable [[graft.functions.TopKBy]] (score desc,
    * token-60-bit-md5 asc tie-break) — ≤k rows per (partition, doc)
    * cross the shuffle, never a per-doc window sort.
    *
    * Scale: one tokenize pass; tf is a (doc, token-id)-keyed combinable
    * agg over 8-byte ids (token strings never ride the big shuffles —
    * the d_clone_pairs element-stream rule); df and the id→string vocab
    * map are vocabulary-bounded combinable aggs BROADCAST into their
    * joins; output is k rows per doc. The 60-bit md5-prefix id is
    * collision-free at fixture vocabulary scale and oracle-checked; a
    * production vocabulary widens ids to the full digest (the
    * d_fork_families lesson — collisions there merge tf streams
    * silently).
    */
  def dTfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    // ONE tokenize pass, materialized as the per-doc BAG (the clone
    // detector's shape) behind an eager localCheckpoint fence — without
    // it the df/vocab/score branches each re-run the scan + regexp +
    // explode lineage. The md5 id is computed on bag rows (one hash per
    // (doc, token-type), not per occurrence).
    val bag = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
          .as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("tid",
        expr("cast(conv(substring(md5(cast(tok as binary)), 1, 15), 16, 10) as bigint)"))
      .localCheckpoint(true)
    val tf = bag.select(col("doc_id"), col("tid"), col("tf"))
    val df = tf.groupBy(col("tid")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("tid"))
      .withColumn("score", expr(s"tf * ${TfidfScale}L div df"))
    val top = scored.groupBy(col("doc_id"))
      .agg(graft.functions.TopKBy(col("score"), col("tid"), TfidfK)
        .as("topk"))
      .select(col("doc_id"), posexplode(col("topk")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.score").as("score"), col("col.id").as("tid"))
    val vocab = bag.select(col("tok"), col("tid")).distinct()
    top.join(broadcast(vocab), Seq("tid"))
      .select(col("doc_id"), col("rk"), col("tok"), col("score"))
  }

  /** Sample-size target for [[dMixAlloc]] — small enough that the
    * apportionment is a real selection at every sf (groups with zero
    * allocation exist); a production run sizes this to the epoch token
    * budget.
    */
  private val MixTarget = 24

  /** Exact data-mixture apportionment + selection — the final step of a
    * training-data pipeline: distribute a global sample budget T across
    * (lang, source) strata by Hamilton's largest-remainder method
    * (allocᵢ = ⌊T·cᵢ/C⌋ plus one extra for the R = T−Σ⌊⌋ largest
    * remainders, ties → (lang, source) asc — EXACT integer arithmetic,
    * Σalloc = T by construction), then pick each stratum's docs
    * content-deterministically (md5-prefix order, the d_quota_sample
    * rank) so the mixture is reproducible with no RNG.
    *
    * Scale: the stratum census is a combinable count agg whose
    * cardinality is METADATA-bounded (langs × sources), so the scalar
    * totals (C, Σ⌊⌋) crossJoin O(1)-row sides and the remainder rank is
    * a bounded×bounded broadcast non-equi self-join — corpus size never
    * touches the apportionment arithmetic; per-stratum selection is ONE
    * map-side-combinable `top_k_by` (≤T rows per (partition, stratum)
    * cross the shuffle) trimmed to allocᵢ by the broadcast alloc table.
    */
  /** n-before rank over a METADATA-BOUNDED table via a broadcast
    * non-equi self-join — never a window: adds `out` = the number of
    * rows strictly ordered before this one under `keys` (per-key
    * ascending flag; later keys break ties). Both join sides are the
    * bounded table itself, so cost is |table|² with |table| bounded by
    * metadata cardinality, not corpus size. Rows must be unique (they
    * are group-census rows at every call site) — the final groupBy on
    * all columns restores one row each.
    */
  private[graft] def boundedRankBefore(df: DataFrame,
      keys: Seq[(String, Boolean)], out: String): DataFrame = {
    val pref = "rb_"
    val peers = df.select(keys.map { case (k, _) => col(k).as(pref + k) }: _*)
    def less(i: Int): org.apache.spark.sql.Column = {
      val (k, asc) = keys(i)
      val p = col(pref + k)
      val lt = if (asc) p < col(k) else p > col(k)
      if (i == keys.length - 1) lt
      else lt || (p === col(k) && less(i + 1))
    }
    df.join(broadcast(peers), less(0), "left")
      .groupBy(df.columns.map(col): _*)
      .agg(count(col(pref + keys.head._1)).as(out))
  }

  def dMixAlloc(spark: SparkSession, dir: String): DataFrame = {
    val T = MixTarget
    val docs = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("lang"), col("source"), col("doc_id"),
        m48Col("text").as("m48"))
    val g = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    val g2 = g.crossJoin(broadcast(g.agg(sum(col("cnt")).as("c_total"))))
      .withColumn("fl", expr(s"$T * cnt div c_total"))
      .withColumn("rem", expr(s"$T * cnt % c_total"))
    val alloc = boundedRankBefore(
        g2.select(col("lang"), col("source"), col("fl"), col("rem")),
        Seq("rem" -> false, "lang" -> true, "source" -> true), "nbefore")
      .crossJoin(broadcast(
        g2.agg((lit(T.toLong) - sum(col("fl"))).as("extra_slots"))))
      .select(col("lang"), col("source"),
        (col("fl") + when(col("nbefore") < col("extra_slots"), 1L)
          .otherwise(0L)).as("alloc"))
      .filter(col("alloc") > 0)
    val sel = docs.groupBy(col("lang"), col("source"))
      .agg(graft.functions.TopKBy(-col("m48"), col("doc_id"), T).as("topk"))
      .select(col("lang"), col("source"), posexplode(col("topk")))
      .select(col("lang"), col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
    sel.join(broadcast(alloc), Seq("lang", "source"))
      .filter(col("rk") <= col("alloc"))
      .select(col("lang"), col("source"), col("doc_id"), col("rk"),
        col("alloc"))
  }

  /** Language rebalancing to equal shares — the temperature-style
    * mixture rebalance (τ → 0 limit: every language gets the corpus's
    * equal share C/L, the multilingual-training counter to English
    * dominance), with BOTH arms of the real op live: languages above
    * their share DOWNSAMPLE (select the md5-first U docs), languages
    * below it UPSAMPLE (every doc repeats ⌊U/cnt⌋ times, the md5-first
    * U mod cnt docs once more — the epoch/repetition-factor mechanic).
    * Exact integer apportionment (equal-share Hamilton: ⌊C/L⌋ + one for
    * the first C mod L languages asc), so Σ target = C and Σ copies per
    * language = its target, exactly.
    *
    * Scale: the language census and target table are metadata-bounded
    * (the d_mix_alloc argument; alphabetic rank via a bounded broadcast
    * self-join); the per-language content rank is the WINDOW-FREE
    * two-phase [[DedupPipeline.streamPrefix]] per-stream rank (range
    * partition + O(partitions) boundary offsets — a mega-language never
    * funnels into one task, unlike `row_number() OVER (PARTITION BY
    * lang)`); copies are computed map-side off the broadcast targets.
    * The rank phase is also why this op has no top_k_by shortcut: the
    * upsample arm needs EVERY doc ranked (rank ≤ U mod cnt decides the
    * extra copy), not a bounded prefix.
    */
  def dLangBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("lang"), col("doc_id"), col("text")), "doc_id")
      .select(col("lang"), col("doc_id"),
        m48Col("text").as("m48"))
    val census = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val target = boundedRankBefore(census, Seq("lang" -> true), "nbefore")
      .crossJoin(broadcast(
        census.agg(sum(col("cnt")).as("c_total"),
          count(lit(1)).as("n_langs"))))
      .select(col("lang"), col("cnt"),
        (expr("c_total div n_langs") +
          when(col("nbefore") < expr("c_total % n_langs"), 1L)
            .otherwise(0L)).as("u"))
    val ranked = graft.pipeline.DedupPipeline.streamPrefix(
        docs.withColumn("one", lit(1L)).toDF(),
        "lang", Seq("m48", "doc_id"), "one", "pre")
      .withColumn("rk", col("pre") + 1L)
    ranked.join(broadcast(target), Seq("lang"))
      .withColumn("copies",
        expr("u div cnt") +
          when(col("rk") <= expr("u % cnt"), 1L).otherwise(0L))
      .filter(col("copies") > 0)
      .select(col("lang"), col("doc_id"), col("rk"), col("copies"))
  }

  /** Shard fan-out for [[dShardStats]] — a production run sizes this to
    * the training-reader parallelism.
    */
  private val ShardCount = 8

  /** Deterministic output sharding + balance report — the write-side
    * final step (spread the curated corpus over S reader shards so no
    * trainer host starves): shard = md5-prefix mod S (content-keyed, so
    * re-runs and cluster sizes don't move docs), reporting per shard the
    * doc count, whitespace-token mass, and its exact share of the
    * corpus's tokens in round-half-up ppm (ideal = 1e6/S; the skew a
    * reader scheduler cares about).
    *
    * Scale: strictly map-side shard assignment + ONE combinable
    * S-row aggregate; the scalar total joins back as an O(1)-row
    * broadcast (the d_backup_stats pattern).
    */
  def dShardStats(spark: SparkSession, dir: String): DataFrame = {
    val d = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      .select(
        (m48Col("text") % ShardCount).as("shard"),
        expr("cast(size(split(text, ' ')) as bigint)").as("toks"))
    val perShard = d.groupBy(col("shard")).agg(
      count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    perShard.crossJoin(broadcast(
        perShard.agg(sum(col("n_tokens")).as("tot"))))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 2000000 + tot) div (2 * tot)").as("share_ppm"))
  }

  /** Document fingerprinting: gear-shingle MinHash + SimHash signatures
    * (not SQL-expressible — rows-only check).
    */
  def dFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shCfg = ShingleConfig()
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = Shingles.shingleHashes(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8), shCfg)
        val mh = Shingles.minhash(sh, shCfg.minhashK)
        (id, sh.length.toLong, Shingles.simhash(sh),
          if (mh.nonEmpty) mh(0) else 0L, if (mh.nonEmpty) mh(1) else 0L)
      }
      .toDF("doc_id", "n_shingles", "simhash", "mh0", "mh1")
  }

  /** Full near-dup clustering of the documents table (rows-only check:
    * the flagship pipeline over a real table).
    */
  def dDocClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = par(spark, t(spark, dir, "documents")
        .select(col("source").as("repo"),
          concat(lit("doc/"), col("doc_id")).as("path"),
          lit("0").as("commit"),
          col("lang"), col("text").as("content")), "path")
      .as[CorpusFile]
    val cfg = DedupConfig()
    val features = DedupPipeline.featurize(files, cfg)
    DedupPipeline.cluster(features, cfg)
      .withColumnRenamed("fileId", "file_id")
      .withColumnRenamed("clusterId", "cluster_id")
  }

  /** End-to-end near-dup CLUSTERING with a full DuckDB oracle — the
    * flagship pipeline's exact shape (shingle → banded MinHash → LSH
    * buckets → hub-star candidate linearization → exact-Jaccard verify →
    * iterative connected components) re-expressed over SQL-recomputable
    * hashing (md5 band hashes over distinct 8-grams) so every stage,
    * including the CC fixpoint, is value-checked against DuckDB (recursive
    * CTE min-label closure).
    *
    * Scale notes (same properties as the production path):
    *  - 1-row-per-band MinHash: band signature = min over grams of
    *    md5(band:gram) — combinable aggregate, no per-doc state;
    *  - hub-star per (band,sig) bucket: candidate edges are
    *    (min-doc, member), LINEAR in bucket size — a boilerplate bucket of
    *    10^6 docs yields 10^6 edges, never 10^12 pairs;
    *  - verify threshold in pure integer arithmetic
    *    (3·|∩| ≥ |A|+|B| ⇔ Jaccard ≥ 0.5) — no float-order drift;
    *  - clustering via [[ConnectedComponents.run]] — the real iterative
    *    min-label/pointer-jump job, here proven value-identical to the
    *    declarative transitive closure.
    */
  def dMinhashCluster(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val docs = d.select(col("doc_id"))
    val grams = d.filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"))
      .select(col("doc_id"), expr("substring(text, i, 8)").as("g"))
      .distinct()
    val nBands = 8
    val sigs = grams
      .select(col("doc_id"), col("g"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        md5(concat(col("band").cast("string"), lit(":"), col("g"))).as("h"))
      .groupBy(col("doc_id"), col("band"))
      .agg(min(col("h")).as("sig"))
    val hubs = sigs.groupBy(col("band"), col("sig")).agg(min(col("doc_id")).as("hub"))
    val cand = sigs.join(hubs, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("a"), col("doc_id").as("b"))
      .distinct()
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(grams.toDF("a", "g"), Seq("a"))
      .join(grams.toDF("b", "g"), Seq("b", "g"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    val edges = inter
      .join(sizes.toDF("a", "na"), Seq("a"))
      .join(sizes.toDF("b", "nb"), Seq("b"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select(col("a"), col("b"))
    ConnectedComponents.run(docs.toDF("fileId"), edges)
      .select(col("fileId").as("doc_id"), col("clusterId").as("cluster_id"))
  }

  /** Near-dup retention ACTION on top of [[dMinhashCluster]]'s fully
    * oracled clustering: per cluster keep ONE canonical member — the
    * longest document, ties to the lowest doc_id (the "keep the richest
    * copy" curation rule; the reference's dedup keeps the FIRST writer,
    * which `keep` degenerates to when lengths tie). Emits one row per
    * document with its cluster, the cluster size, the chosen canonical
    * id, and the keep/drop decision — the per-row form a downstream
    * training-data filter joins on.
    *
    * Scale: clustering is the flagship path (hub-star buckets, integer
    * Jaccard verify, log-diameter CC); canonical selection is ONE
    * combinable `min(struct(-len, id))` aggregate per cluster plus one
    * cluster-keyed join back — no windows, no per-cluster sort, no
    * collect. A 10^6-member boilerplate cluster costs one agg group.
    */
  def dNeardupPrune(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val clusters = dMinhashCluster(spark, dir)
    val lens = d.select(col("doc_id"),
      length(col("text")).cast("long").as("char_len"))
    val withLen = clusters.join(lens, Seq("doc_id"))
    val canon = withLen
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((-col("char_len")).as("neg_len"),
          col("doc_id").as("doc_id"))).as("c"))
      .select(col("cluster_id"), col("cluster_size"),
        col("c.doc_id").as("canon_id"))
    withLen.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("canon_id"),
        when(col("doc_id") === col("canon_id"), 1L).otherwise(0L).as("keep"))
  }

  /** Replayable SimHash analog WITH a value oracle (the production
    * SimHash in [[graft.pipeline.Shingles]] is gear-shingle based and so
    * only spec-tested): per word, a 60-bit hash from the first 15 md5 hex
    * nibbles; SimHash = sign-sum over word occurrences per bit; 4 bands
    * of 15 bits block the candidate join with hub-star linearization
    * (same shape as the production SimHash path); pairs within Hamming
    * radius 3 of their hub emitted with the distance. Deterministic
    * integer arithmetic end to end — DuckDB replays every stage.
    */
  def dSimhashMd5(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val words = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val bits = words
      .select(col("doc_id"), md5(col("w")).as("h"),
        explode(sequence(lit(1), lit(15))).as("p"))
      .select(col("doc_id"), col("p"),
        expr("cast(conv(substring(h, p, 1), 16, 10) as int)").as("nib"))
      .select(col("doc_id"), col("p"), col("nib"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .select(col("doc_id"),
        ((col("p") - 1) * 4 + col("b")).as("j"),
        expr("(shiftright(nib, b) & 1)").as("bit"))
    val sig = bits
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("bit") * 2 - 1).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") >= 0, expr("shiftleft(cast(1 as bigint), j)"))
        .otherwise(0L)).as("sig"))
    val bv = sig
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("t"))
      .select(col("doc_id"), col("sig"), col("t"),
        expr("shiftright(sig, 15 * t) & 32767").as("v"))
    val hubs = bv.groupBy(col("t"), col("v")).agg(min(col("doc_id")).as("hub"))
    val cand = bv.join(hubs, Seq("t", "v"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("a"), col("doc_id").as("b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) as bigint)"))
      .filter(col("hamming") <= 3)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Chunk-level dedup stats over documents (destor metrics contract),
    * DuckDB-oracled: the fixed-256 boundaries are recomputed
    * arithmetically (boundary parity separately proven per chunk by
    * [[dFixedChunks]]'s sha256 oracle), unique_chunks counts distinct
    * chunk CONTENT — equal to the Spark side's distinct-SHA-1 count —
    * and zero_chunks replays the all-NUL detector on the text slices.
    */
  def dChunkStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    // finer chunking so documents (~2 KB) actually split
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    val features = DedupPipeline.featurize(files, cfg)
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
    import spark.implicits._
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

  // ====================================================================
  // GC / restore / span-verification / multimodal
  // ====================================================================

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
  /** The documents→[[CorpusFile]] projection shared by the restore/sink
    * twins — the stream key downstream is `repo@path@commit` =
    * `source@doc/<id>@0` (concat_ws in backup), which the d_backup_sink
    * oracle's packing ORDER BY replays verbatim, so the path shape is a
    * cross-cutting contract and lives ONCE here. `nonEmpty` drops
    * zero-byte docs (zero-chunk files never reach the chunk writer).
    * `byteSafe` additionally restricts to docs whose byte and char
    * lengths agree (pure single-byte text) — required by the two
    * queries whose ORACLES slice text with character-based substr while
    * the engine chunker slices BYTES: this DuckDB's sha256 only accepts
    * VARCHAR, so a mid-character byte slice is not replayable at all,
    * and the symmetric restriction makes the parity contract explicit
    * on both sides instead of silently depending on an all-ASCII
    * fixture corpus.
    */
  private def docsAsCorpus(spark: SparkSession, dir: String,
      nonEmpty: Boolean = true, byteSafe: Boolean = false)
      : Dataset[CorpusFile] = {
    import spark.implicits._
    var d = t(spark, dir, "documents")
    if (nonEmpty) d = d.filter(length(col("text")) > 0)
    if (byteSafe)
      d = d.filter(octet_length(col("text")) === length(col("text")))
    d.select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
  }

  def dRestoreVerify(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    Restore.verifyRestore(files, cfg)
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
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    val features = DedupPipeline.featurize(files, cfg).toDF()
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
      chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
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
      chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
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

  /** S3 destor text-trace round trip: the documents chunk stream is
    * written as a reference-format `.trace` file and read back; output is
    * both sides' aggregate plus a strict set-equality flag (rows-only:
    * the trace carries SHA-1 fps, not SQL-recomputable).
    */
  def dTraceRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    val chunks = DedupPipeline.chunkTableDF(DedupPipeline.featurize(files, cfg).toDF())
      .select(concat_ws("@", col("repo"), col("path")).as("path"),
        col("chunkIdx"), col("fp"), col("size"))
      .persist()
    val tmp = java.nio.file.Files.createTempDirectory("graft_trace")
    try {
      val f = tmp.resolve("docs.trace").toString
      graft.sources.TraceSource.write(chunks, f)
      val back = graft.sources.TraceSource.read(spark, f).toDF().persist()
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
    val li = t(spark, dir, "lineitem")
    val key = col("l_partkey") * 8 + pmod(col("l_orderkey"), lit(8))
    val md5c = md5(key.cast("string"))
    val stream0 = DedupPipeline.streamPrefix(
        li.select(
          (pmod(col("l_suppkey"), lit(3)) + 1).as("b"),
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
  /** The shared two-backup trace fixture (b = suppkey%2+1, the
    * [[dTracePipeline]] fp/size derivation — DuckDB recomputes both).
    * Returned persisted; callers unpersist.
    */
  private def traceTwoFixture(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val key = col("l_partkey") * 8 + pmod(col("l_orderkey"), lit(8))
    val md5c = md5(key.cast("string"))
    DedupPipeline.streamPrefix(
        li.select(
          (pmod(col("l_suppkey"), lit(2)) + 1).as("b"),
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

  private def dTraceVariant(spark: SparkSession, dir: String,
      rewriteDirectives: String): DataFrame = {
    val stream0 = traceTwoFixture(spark, dir)
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
    val stream0 = traceTwoFixture(spark, dir)
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

  /** Remove a query's temp artifact directory once its result is
    * materialized (repeated bench/verify runs must not accumulate /tmp).
    */
  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(dir)) {
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** S4 FSL hashfile round trip: the documents chunk stream is written as
    * a v7 VARIABLE/SHA-1 hashfile (the binary SNIA/FSL trace format the
    * reference replays via libhashfile) and read back; output is the
    * read-back aggregate plus a strict set-equality flag (rows-only: the
    * hashfile carries SHA-1 fps, not SQL-recomputable). Byte-level parity
    * with the reference's own writer is gated in FslSourceSpec against a
    * fixture generated by compiled reference C (scripts/fsl_fixture.md).
    */
  def dFslRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("fixed", avgSize = 256))
    val chunks = DedupPipeline.chunkTableDF(DedupPipeline.featurize(files, cfg).toDF())
      .select(concat_ws("@", col("repo"), col("path")).as("path"),
        col("chunkIdx"), col("fp"), col("size"))
      .persist()
    val tmp = java.nio.file.Files.createTempDirectory("graft_fsl")
    try {
      val f = tmp.resolve("docs.hashfile").toString
      graft.sources.FslSource.write(chunks, f, rootPath = "/graft", sysid = "graft")
      val back = graft.sources.FslSource.read(spark, tmp.toString)
        .select(col("path"), col("chunkIdx").cast("int").as("chunkIdx"),
          col("fp"), col("size").cast("int").as("size"))
        .persist()
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

  /** SimHash near-dup candidate pairs over documents. Rows-only by
    * necessity: the 64-bit SimHash derives from gear micro-shingles, which
    * no SQL engine can recompute — DuckDB's bit_count could check the
    * popcount column but only given the simhash values themselves, which
    * would be circular. The banding/Hamming semantics are instead
    * spec-gated (PipelineSpec hub-star + radius tests); the SQL-expressible
    * analog of banded signature dedup is oracle-checked via e_lsh_dedup.
    */
  def dSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = t(spark, dir, "documents")
      .select(col("source").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("0").as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusFile]
    val feats = DedupPipeline.featurize(files, DedupConfig()).toDF()
    val cands = DedupPipeline.simhashCandidates(feats, DedupConfig())
    // always non-empty: emit per-file simhash population counts alongside
    feats.select(col("fileId"), col("simhash"))
      .withColumn("popcount", expr("bit_count(simhash)").cast("long"))
      .join(cands.withColumnRenamed("a", "fileId")
        .groupBy(col("fileId")).agg(count(lit(1)).as("cand_pairs")),
        Seq("fileId"), "left")
      .na.fill(0L, Seq("cand_pairs"))
  }

  /** Suffix-automaton longest-common-substring spans over adjacent
    * document pairs + gear-shingle Jaccard (rows-only).
    */
  def dLcsPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .filter(_._1 < 60)
    val paired = docs.toDF("a_id", "a_text").join(
      docs.toDF("b_id", "b_text"), expr("b_id = a_id + 1"))
    val shCfg = ShingleConfig()
    paired.as[(Long, String, Long, String)].map { case (a, at, b, bt) =>
      val sa = Shingles.shingleHashes(at.getBytes("UTF-8"), shCfg)
      val sb = Shingles.shingleHashes(bt.getBytes("UTF-8"), shCfg)
      (a, b, graft.functions.Lcs.longestCommonSubstring(at, bt).toLong,
        math.round(Shingles.jaccard(sa, sb) * 1e6) / 1e6)
    }.toDF("a_id", "b_id", "lcs_len", "shingle_jaccard")
  }

  /** The ORACLED twin of [[dLcsPairs]]'s span verification: the same
    * suffix-automaton longest-common-substring code
    * ([[graft.functions.Lcs]]) over ASCII-cleaned 80-char prefixes, so
    * DuckDB can replay the quadratic DP exactly (a recursive CTE carries
    * one DP row per pair as a LIST — the r_restore_asm running-state
    * pattern; tiny by construction: 59 pairs × ≤80 steps × ≤80-long
    * rows). Proves the automaton against an independent DP the same way
    * the md5 twins prove the hash paths.
    */
  def dLcsTrunc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 80)
          .as("text"))
      .as[(Long, String)]
    val paired = docs.toDF("a_id", "a_text").join(
      docs.toDF("b_id", "b_text"), expr("b_id = a_id + 1"))
    paired.as[(Long, String, Long, String)].map { case (a, at, b, bt) =>
      (a, b, graft.functions.Lcs.longestCommonSubstring(at, bt).toLong)
    }.toDF("a_id", "b_id", "lcs_len")
  }

  /** Multimodal: batched REAL decode (pure-JVM PPM/WAV/PPM-stream codecs,
    * magic-byte sniffing) over synthetic media in genuine file formats.
    *
    * DRIVER-ORACLED (round 5): kind/width/height are recomputed by the
    * oracle in closed-form SQL from `range(200)` (the generator's
    * structure), certifying the sniffing decode derives metadata matching
    * the generator math; the content stats (luma/rms in integer ppm +
    * payload sha1) join the frozen [[MediaFixtures]] literals, which the
    * MultimodalSpec self-consistency test re-derives from the sequential
    * scalar codecs every run.
    */
  def mMediaStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.operators.Multimodal.synthesize(spark, 200)
    graft.operators.Multimodal.decode(media).toDF()
      .select(col("mediaId").as("media_id"), col("kind"),
        col("width"), col("height"),
        floor(col("meanLuma") * 1000000 + 0.5).cast("long").as("luma_ppm"),
        col("sha1"))
  }

  /** Multimodal: map-only nearest-neighbor image resize (the vision-
    * pipeline preprocessing step) — per media the before/after dims plus
    * the RE-DECODED stats of the resized payload, proving the output is
    * a valid P6 a downstream decoder parses. DRIVER-ORACLED: the resize
    * geometry (12/h2 dims), image output byte size and video/audio
    * passthrough sizes are closed-form SQL over range(200) — audio byte
    * length (hash-dependent sample count) and the resized luma come from
    * the frozen [[MediaFixtures]]; bounds and pixel identity are
    * additionally gated in the specs.
    */
  def mResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.operators.Multimodal.synthesize(spark, 200)
    val resized = graft.operators.Multimodal.resize(media, maxDim = 12)
    val redecoded = graft.operators.Multimodal.decode(
      resized.filter(_.kind == "image").map(r =>
        graft.operators.Multimodal.MediaRow(r.mediaId,
          graft.operators.Multimodal.MediaMeta("image", r.newWidth,
            r.newHeight, 1, 0), r.payload))).toDF()
      .select(col("mediaId"),
        floor(col("meanLuma") * 1000000 + 0.5).cast("long").as("rl_ppm"))
    resized.toDF()
      .select(col("mediaId"), col("kind"), col("width"), col("height"),
        col("newWidth").as("new_width"), col("newHeight").as("new_height"),
        length(col("payload")).as("bytes"))
      .join(redecoded, Seq("mediaId"), "left")
      .withColumnRenamed("mediaId", "media_id")
  }

  /** Multimodal: video frame sampling exploded to per-frame features.
    * Emits the EXACT integer 8-bin luma-histogram counts recovered from
    * the normalized float feature (counts ≤ 640 round-trip float
    * normalization losslessly: relative error 2^-24 ≪ 0.5/640), so the
    * driver hash-checks the real pixel binning against the frozen
    * fixture instead of a featSum that is ≈1.0 by construction. The
    * oracle recomputes the sampling grid (video ids, stride-2 frame
    * indices) closed-form from range(200).
    */
  def mFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.synthesize(spark, 200), stride = 2).toDF()
      // video frame area is structural: w = 16 + (id%4)*8, h = 16
      .withColumn("area", ((col("mediaId") % 4) * 8 + 16) * 16)
    val bins = (0 until 8).map(k =>
      floor(element_at(col("frameFeature"), k + 1) * col("area") + 0.5)
        .cast("long").as(s"b$k"))
    frames.select(
      (col("mediaId").as("media_id") +: col("frameIdx").cast("long").as("frame_idx") +: bins): _*)
  }

  /** §2.8 event-time windowed throughput — the EXACT code path the
    * streaming ingest uses ([[graft.streaming.StreamIngest
    * .windowedThroughput]]), replayed on the batch events table so the
    * driver can oracle the tumbling-window semantics (DuckDB
    * time_bucket). Values pre-converted to integer cents for
    * order-independent sums; window starts compared as epoch micros.
    */
  def sWindowedThroughput(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value", round(col("value") * 100).cast("long"))
    graft.streaming.StreamIngest.windowedThroughput(e)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("events"), col("total_value").as("total_value_cents"))
  }

  // ====================================================================
  // Embedding similarity ops over `embeddings`
  // ====================================================================

  /** Brute-force cosine top-k ANN (baseline path). Dot products in double
    * precision, sequential array order — deterministic.
    *
    * Top-k selection is the WINDOW-FREE [[graft.functions.TopKBy]]
    * bounded heap: each scan partition forwards ≤k rows per query and
    * nothing is globally sorted — the former
    * `row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC)`
    * funneled the ENTIRE scored corpus through one task per query (the
    * per-query straggler at 100×). The double cosine rides through the
    * integer-only heap via the lossless order-preserving
    * [[graft.functions.SortableBits]] encoding, so the ranking (and the
    * DuckDB oracle, which ranks the raw doubles) is bit-for-bit the
    * window's: ties break on the double itself, never on a lossy
    * micro-unit surrogate.
    */
  def eAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cands = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
    // the 20-row query side is the build side: broadcast it and stream the
    // corpus past it — the reverse (corpus broadcast) OOMs at any real size
    broadcast(queries).crossJoin(cands)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("s", graft.functions.SortableBits(
        graft.functions.CosineSim(col("q"), col("v"))))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(col("s"), col("neighbor_id"), 5).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rk"),
        round(graft.functions.SortableBits.invert(col("col.score")), 4)
          .as("cosine_r"))
  }

  /** Int8 scalar-quantization audit — per dimension: code range actually
    * used and total absolute reconstruction error in integer micro-units
    * (associative bigint sum, so float accumulation order can't drift
    * between engines). The 4×-compression step a 100 TB embedding store
    * runs before ANN; recall of the dequantized cosine top-k vs exact is
    * gated in SimilaritySpec.
    */
  def eQuantizeStats(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val ex = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    // dim-stats table is FIXED SIZE (one row per dimension) — broadcast
    // is the scale-correct plan regardless of corpus size
    ex.join(broadcast(stats), Seq("dim"))
      .withColumn("q",
        when(col("hi") === col("lo"), lit(0)).otherwise(
          round((col("x") - col("lo")) / (col("hi") - col("lo")) * 255)
            .cast("int")))
      .withColumn("deq",
        col("lo") + col("q") * (col("hi") - col("lo")) / 255)
      .withColumn("err", round(abs(col("x") - col("deq")) * 1e6).cast("long"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("err")).as("sum_abs_err_micro"),
        min(col("q")).as("qmin"), max(col("q")).as("qmax"))
  }

  /** Embedding norms + label stats (vector math via higher-order fns). */
  def eNormStats(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val sq = expr("aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))")
    e.withColumn("norm2", sq)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("norm2")), 3).as("sum_norm2"))
  }

  /** Embedding-cosine near-dup dedup, BRUTE-FORCE BASELINE: all-pairs at
    * a hard id cap (n=200) — kept only as the small-n ground truth the
    * DuckDB oracle can replay cheaply. The scale path is [[eLshDedup]]
    * (banded sign-LSH + rerank, no crossJoin), whose recall vs this brute
    * force is gated at 1.0 in SimilaritySpec.
    */
  def eCosineDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").filter(col("vec_id") < 200)
    val l = e.select(col("vec_id").as("a"), col("embedding").as("q"))
    val r = e.select(col("vec_id").as("b"), col("embedding").as("v"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cosine").desc, col("b"))
    l.join(r, col("a") =!= col("b"))
      .withColumn("cosine", graft.functions.CosineSim(col("q"), col("v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("a").as("vec_id"), col("b").as("nearest"),
        round(col("cosine"), 4).as("cosine_r"),
        (col("cosine") >= 0.95).as("is_dup"))
  }

  /** IVF ANN at full probe (nProbe = nlist): must equal brute force, so
    * the DuckDB brute-force SQL is its oracle — the driver-checked proof
    * that the IVF machinery (assignment, probing, rerank) is lossless.
    */
  def eIvfTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, nlist = 16, nProbe = 16, k = 5)

  /** IVF ANN partial probe — the actual scale path (candidates shrink by
    * ~nProbe/nlist; recall@5 = 0.85 at 4/16 proven in SimilaritySpec).
    * Approximate w.r.t. brute force but fully DETERMINISTIC, so it is
    * value-oracled: DuckDB replays seed centroids, argmax assignment,
    * the nProbe probe and the rerank stage by stage ([[ivfProbeSql]]).
    */
  def eIvfProbe(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, nlist = 16, nProbe = 4, k = 5)

  /** IVF ANN partial probe with Lloyd-refined centroids (5 rounds) — the
    * variant a skewed/clustered 100 TB corpus needs: raw seed centroids
    * route a near-dup mega-group as pure jitter noise while k-means pulls
    * the lists onto the real structure (recall gate kmeans > seeds on the
    * clustered corpus, plus full-probe losslessness, in SimilaritySpec).
    * FULLY value-oracled since round 4: the Lloyd accumulators are
    * integer micro-units (round(x·1e6) bigint sums — no partition-order
    * float drift), so DuckDB replays all five refinement rounds, the
    * probe and the rerank exactly ([[ivfKmeansSql]]).
    */
  def eIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, nlist = 16, nProbe = 4,
      k = 5, kmeansIters = 5)

  /** Product-quantization ANN — the compression step PAST int8 for a
    * 100 TB embedding store (d float32 dims → m byte codes, 32× at
    * d=64/m=8): codebooks trained driver-side on a bounded deterministic
    * sample, map-only encode, batched ADC code scan with per-partition
    * bounded heaps, exact-cosine rerank of the shortlist. Rows-only: the
    * codebooks come from DRIVER-LOCAL float k-means over the sample
    * (pqTrain), whose accumulation order no SQL engine reproduces;
    * recall@5 vs exact is gated in SimilaritySpec. The HASH-GREEN twin is
    * [[ePqAdc]], which runs the identical train → encode → ADC → rerank
    * shape in integer micro-units end to end.
    */
  def ePqTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.pqTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, m = 8, k = 16, topK = 5,
      refine = 16)

  /** ENGINE-EXACT PQ twin ([[graft.operators.Similarity.pqAdcTopK]]):
    * the train → encode → ADC-rank path entirely in integer micro-units
    * — quantized vectors, integer Lloyd codebooks (HALF_UP centroid
    * updates), integer asymmetric-distance tables — so DuckDB replays
    * every Lloyd round, the encode and the ADC top-k value-identically
    * ([[pqAdcSql]] unrolls the rounds like the e_ivf_kmeans oracle).
    * This is the oracle coverage e_pq_topk itself cannot have (its
    * production float path keeps the exact-cosine rerank + recall gate).
    */
  def ePqAdc(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.pqAdcTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, m = 8, k = 64,
      trainN = 500, iters = 3, topK = 5, refine = 8)

  /** Scalable embedding near-dup dedup: banded sign-LSH candidates +
    * exact-cosine rerank with hub-star hot-bucket linearization — the
    * 100 TB replacement for the all-pairs crossJoin (which
    * [[eCosineDedup]] keeps only as the capped-n oracle baseline).
    * Fully SQL-expressible, so the DuckDB oracle replays the whole thing.
    */
  def eLshDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.lshDedup(t(spark, dir, "embeddings"))

  /** SemDeDup semantic dedup ([[graft.operators.Similarity.semDedup]]):
    * integer-Lloyd k-means partitions the embedding space, near-dup
    * duels run INSIDE clusters only, and each duel drops the member
    * closer to its centroid (keep-the-rim). Fully value-oracled: the
    * DuckDB replay reuses the e_ivf_kmeans CTE chain (micro-unit Lloyd
    * rounds are engine-exact) and re-runs the intra-cluster duel join —
    * kept flags, list ids and rounded centroid similarities must all
    * match. Same nlist/iters as e_ivf_kmeans so the two oracles
    * cross-check the same centroids.
    *
    * tau is CORPUS-CALIBRATED: real embedding models put near-dups at
    * cosine ≥0.95, but the driver's synthetic embeddings are
    * near-orthogonal (max intra-cluster cosine 0.51 at sf0.01), so 0.95
    * would never fire a duel and the victim logic would ride the oracle
    * untested. 0.30 sits in this corpus's near-dup tail — 236/270/3106
    * duels at sf0.001/0.01/0.1 — so the kept flags genuinely exercise
    * the pair scan and keep rule at every sf.
    */
  def eSemDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semDedup(
      t(spark, dir, "embeddings"), nlist = 16, iters = 5, tau = 0.30)

  /** LSH-bucketed ANN scale path, fully value-oracled: 16 pseudo-random
    * hyperplanes whose coefficients derive from md5("p:i") (byte 0 as
    * unsigned minus 128 → an integer in [-128, 127]) — SQL-replayable, so
    * DuckDB recomputes the identical planes. The plane matrix is built
    * ONCE on the driver and broadcast (round 2 recomputed planes×dims
    * hash calls per row). The projection is integer arithmetic end to
    * end: embedding values are rounded to micro-units first, so the dot
    * product is an associative bigint sum with no float-order drift
    * between engines; bucket bit p = (sum > 0). Map-only — no shuffle.
    */
  def eLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planes = 16
    val maxDims = 256
    val md = java.security.MessageDigest.getInstance("MD5")
    val coef: Array[Array[Long]] = Array.tabulate(planes) { p =>
      Array.tabulate(maxDims) { i =>
        md.reset()
        val h = md.digest(
          s"$p:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((h(0) & 0xff) - 128).toLong
      }
    }
    val bc = spark.sparkContext.broadcast(coef)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, emb, label) =>
          require(emb.length <= maxDims,
            s"eLshBuckets: ${emb.length} dims exceeds plane matrix ($maxDims)")
          val micro = new Array[Long](emb.length)
          var i = 0
          while (i < emb.length) {
            // HALF_UP on the shortest decimal repr == Spark/DuckDB round()
            micro(i) = java.math.BigDecimal.valueOf(emb(i).toDouble * 1e6)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
            i += 1
          }
          var bucket = 0
          var p = 0
          while (p < planes) {
            val cp = c(p)
            var s = 0L
            var j = 0
            while (j < emb.length) { s += micro(j) * cp(j); j += 1 }
            if (s > 0) bucket |= (1 << p)
            p += 1
          }
          (id, bucket, label)
        }
      }
      .toDF("vec_id", "bucket", "label")
  }

  // ====================================================================
  // Registry
  // ====================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q_first_writer" -> (qFirstWriter _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_topk_agg" -> (qTopkAgg _),
    "q_session_runs" -> (qSessionRuns _),
    "q_cum_packing" -> (qCumPacking _),
    "q_broadcast_join" -> (qBroadcastJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_semi_join" -> (qSemiJoin _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_histogram" -> (qHistogram _),
    "q_lru_stack" -> (qLruStack _),
    "q_next_access" -> (qNextAccess _),
    "q_min_sample" -> (qMinSample _),
    "q_uniform_sample" -> (qUniformSample _),
    "q_optmin_sample" -> (qOptminSample _),
    "q_random_sample" -> (qRandomSample _),
    "q_segment_bounds" -> (qSegmentBounds _),
    "q_quantile" -> (qQuantile _),
    "r_cap_rewrite" -> (rCap _),
    "r_cfl_runs" -> (rCflRuns _),
    "r_har_sparse" -> (rHarSparse _),
    "r_util_histogram" -> (rUtilHistogram _),
    "r_access_records" -> (rAccessRecords _),
    "s_windowed_throughput" -> (sWindowedThroughput _),
    "r_restore_lru" -> (rRestoreLru _),
    "r_restore_opt" -> (rRestoreOpt _),
    "r_restore_asm" -> (rRestoreAsm _),
    "d_token_regex" -> (dTokenRegex _),
    "r_cbr_rewrite" -> (rCbr _),
    "q_champion_plain" -> (qChampionPlain _),
    "q_champion_trim" -> (qChampionTrim _),
    "d_segment_features" -> (dSegmentFeatures _),
    "d_segment_md5" -> (dSegmentMd5 _),
    "d_index_presets" -> (dIndexPresets _),
    "d_presets_md5" -> (dPresetsMd5 _),
    "d_preset_cand_md5" -> (dPresetCandMd5 _),
    "d_preset_clusters" -> (dPresetClusters _),
    "d_fixed_chunks" -> (dFixedChunks _),
    "g_dead_chunks" -> (gDeadChunks _),
    "g_compaction_plan" -> (gCompactionPlan _),
    "g_compact_exec" -> (gCompactExec _),
    "g_chain_expire" -> (gChainExpire _),
    "g_chain_recipes" -> (gChainRecipes _),
    "d_restore_verify" -> (dRestoreVerify _),
    "d_restore_md5" -> (dRestoreMd5 _),
    "d_file_restore_md5" -> (dFileRestoreMd5 _),
    "d_backup_sink" -> (dBackupSink _),
    "d_backup_metrics" -> (dBackupMetrics _),
    "d_trace_roundtrip" -> (dTraceRoundtrip _),
    "d_trace_pipeline" -> (dTracePipeline _),
    "s_backup_chain" -> (sBackupChain _),
    "d_trace_cfl" -> (dTraceCfl _),
    "d_trace_cbr" -> (dTraceCbr _),
    "d_trace_cap" -> (dTraceCap _),
    "d_fsl_roundtrip" -> (dFslRoundtrip _),
    "d_simhash_pairs" -> (dSimhashPairs _),
    "d_lcs_pairs" -> (dLcsPairs _),
    "d_lcs_trunc" -> (dLcsTrunc _),
    "m_media_stats" -> (mMediaStats _),
    "m_frame_sample" -> (mFrameSample _),
    "m_resize" -> (mResize _),
    "d_exact_dedup" -> (dExactDedup _),
    "d_token_count" -> (dTokenCount _),
    "d_lang_id" -> (dLangId _),
    "d_quality" -> (dQuality _),
    "d_ngram_shingles" -> (dNgramShingles _),
    "d_ngram_jaccard_pairs" -> (dNgramJaccardPairs _),
    "d_ngram_df_stats" -> (dNgramDfStats _),
    "d_rollup_stats" -> (dRollupStats _),
    "d_curation" -> (dCuration _),
    "d_pii_scrub" -> (dPiiScrub _),
    "d_gram_quality" -> (dGramQuality _),
    "d_quota_sample" -> (dQuotaSample _),
    "d_vocab_oov" -> (dVocabOov _),
    "d_bloom_dedup" -> (dBloomDedup _),
    "d_para_dedup" -> (dParaDedup _),
    "d_tfidf_topterms" -> (dTfidfTopterms _),
    "d_mix_alloc" -> (dMixAlloc _),
    "d_lang_balance" -> (dLangBalance _),
    "d_shard_stats" -> (dShardStats _),
    "d_winnow" -> (dWinnow _),
    "d_winnow_pairs" -> (dWinnowPairs _),
    "d_dup_spans" -> (dDupSpans _),
    "d_dup_span_stats" -> (dDupSpanStats _),
    "d_self_rep" -> (dSelfRep _),
    "d_suffix_rank" -> (dSuffixRank _),
    "d_sa_gram_stats" -> (dSaGramStats _),
    "d_dup_span_pairs" -> (dDupSpanPairs _),
    "d_dup_trim" -> (dDupTrim _),
    "d_decontam" -> (dDecontam _),
    "d_clone_pairs" -> (dClonePairs _),
    "d_clone_groups" -> (dCloneGroups _),
    "d_repo_forks" -> (dRepoForks _),
    "d_fork_families" -> (dForkFamilies _),
    "d_fork_prune" -> (dForkPrune _),
    "d_merkle_dirs" -> (dMerkleDirs _),
    "d_merkle_prune" -> (dMerklePrune _),
    "d_commit_deltas" -> (dCommitDeltas _),
    "d_fingerprint" -> (dFingerprint _),
    "d_doc_clusters" -> (dDocClusters _),
    "d_minhash_cluster" -> (dMinhashCluster _),
    "d_neardup_prune" -> (dNeardupPrune _),
    "d_simhash_md5" -> (dSimhashMd5 _),
    "d_chunk_stats" -> (dChunkStats _),
    "d_backup_stats" -> (dBackupStats _),
    "e_ann_topk" -> (eAnnTopK _),
    "e_ivf_topk" -> (eIvfTopK _),
    "e_ivf_probe" -> (eIvfProbe _),
    "e_ivf_kmeans" -> (eIvfKmeans _),
    "e_pq_topk" -> (ePqTopK _),
    "e_pq_adc" -> (ePqAdc _),
    "e_cosine_dedup" -> (eCosineDedup _),
    "e_norm_stats" -> (eNormStats _),
    "e_quantize_stats" -> (eQuantizeStats _),
    "e_lsh_buckets" -> (eLshBuckets _),
    "e_lsh_dedup" -> (eLshDedup _),
    "e_semdedup" -> (eSemDedup _)
  )

  /** DuckDB cosine between two FLOAT lists, elementwise-in-order double
    * sums — the exact accumulation order Similarity.cosine uses, so the
    * rounded values match Spark's.
    */
  private def cosSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
       |      / (sqrt(list_aggregate(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       |       * sqrt(list_aggregate(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))""".stripMargin

  /** Full IVF partial-probe replay — oracle for e_ivf_probe: every stage
    * of Similarity.ivfTopK at kmeansIters=0 is deterministic (seed
    * centroids = the nlist lowest vec_ids in id order; assignment =
    * argmax cosine with first-index tie-break; probe = top-nProbe
    * centroids per query with index tie-break; exact-cosine rerank), so
    * DuckDB recomputes the identical candidate sets and ranks — the
    * driver-checked proof of the PROBE path itself, beyond the
    * full-probe ≡ brute-force proof e_ivf_topk carries.
    */
  private val ivfProbeSql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS listId, embedding AS c
      |  FROM e ORDER BY vec_id LIMIT 16),
      |asg AS (
      |  SELECT vec_id, embedding, listId FROM (
      |    SELECT e.vec_id, e.embedding, cents.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "cents.c")} DESC, cents.listId) AS rk
      |    FROM e CROSS JOIN cents)
      |  WHERE rk = 1),
      |probe AS (
      |  SELECT query_id, listId FROM (
      |    SELECT e.vec_id AS query_id, cents.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "cents.c")} DESC, cents.listId) AS rk
      |    FROM e CROSS JOIN cents WHERE e.vec_id < 20)
      |  WHERE rk <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ${cosSql("qe.embedding", "a.embedding")} AS cos
      |  FROM probe p
      |  JOIN asg a USING (listId)
      |  JOIN e qe ON qe.vec_id = p.query_id
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, rk, round(cos, 4) AS cosine_r FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM cand) WHERE rk <= 5""".stripMargin

  /** Full IVF k-means replay — oracle for e_ivf_kmeans: the Lloyd
    * accumulators are integer micro-units (round(x·1e6) bigint sums), so
    * every refinement round is engine-exact; this SQL unrolls all 5
    * rounds (assign → per-(list,dim) micro-sum → mean-as-float, empty
    * lists keep their centroid), then replays the nProbe=4 probe + exact
    * rerank like [[ivfProbeSql]].
    */
  /** Shared CTE chain for the integer-Lloyd k-means oracles
    * (e_ivf_kmeans, e_semdedup): seeds = the `nlist` lowest vec_ids,
    * `rounds` refinement rounds with micro-unit bigint accumulators,
    * ending at `asgF` = every vector's final max-cosine assignment
    * (tiebreak: lowest listId, the engine's first-index-wins).
    */
  private def kmeansCteChain(nlist: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""asg$i AS (
        |  SELECT vec_id, embedding, listId FROM (
        |    SELECT e.vec_id, e.embedding, cents${i - 1}.listId,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", s"cents${i - 1}.c")} DESC, cents${i - 1}.listId) AS rk
        |    FROM e CROSS JOIN cents${i - 1})
        |  WHERE rk = 1),
        |st$i AS (
        |  SELECT listId, CAST(ord - 1 AS INTEGER) AS dim,
        |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |    count(*) AS n
        |  FROM (SELECT listId, unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS ord
        |        FROM asg$i)
        |  GROUP BY 1, 2),
        |nc$i AS (
        |  SELECT listId, list(CAST(s / 1e6 / n AS FLOAT) ORDER BY dim) AS c
        |  FROM st$i GROUP BY 1),
        |cents$i AS (
        |  SELECT p.listId, coalesce(nc$i.c, p.c) AS c
        |  FROM cents${i - 1} p LEFT JOIN nc$i USING (listId))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
      |cents0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS listId, embedding AS c
      |  FROM e ORDER BY vec_id LIMIT $nlist),
      |$roundCtes,
      |asgF AS (
      |  SELECT vec_id, embedding, listId FROM (
      |    SELECT e.vec_id, e.embedding, cents$rounds.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", s"cents$rounds.c")} DESC, cents$rounds.listId) AS rk
      |    FROM e CROSS JOIN cents$rounds)
      |  WHERE rk = 1)""".stripMargin
  }

  private val ivfKmeansSql: String = {
    val rounds = 5
    s"""WITH ${kmeansCteChain(16, rounds)},
      |probe AS (
      |  SELECT query_id, listId FROM (
      |    SELECT e.vec_id AS query_id, cents$rounds.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", s"cents$rounds.c")} DESC, cents$rounds.listId) AS rk
      |    FROM e CROSS JOIN cents$rounds WHERE e.vec_id < 20)
      |  WHERE rk <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ${cosSql("qe.embedding", "a.embedding")} AS cos
      |  FROM probe p
      |  JOIN asgF a USING (listId)
      |  JOIN e qe ON qe.vec_id = p.query_id
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, rk, round(cos, 4) AS cosine_r FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM cand) WHERE rk <= 5""".stripMargin
  }

  /** SemDeDup replay — oracle for e_semdedup: the e_ivf_kmeans CTE chain
    * rebuilds the identical Lloyd-5 centroids and final assignment; each
    * vector's centroid similarity is the cosine to its own (engine-exact
    * float) centroid; the duel join replays the intra-cluster pair scan
    * at tau = 0.30 (corpus-calibrated — see [[eSemDedup]]) with the same
    * victim rule (closer-to-centroid loses, csim ties drop the higher
    * id).
    */
  private val semDedupSql: String = {
    val rounds = 5
    s"""WITH ${kmeansCteChain(16, rounds)},
      |cs AS MATERIALIZED (
      |  SELECT a.vec_id, a.embedding, a.listId,
      |    ${cosSql("a.embedding", "c.c")} AS csim
      |  FROM asgF a JOIN cents$rounds c USING (listId)),
      |vict AS (
      |  SELECT DISTINCT CASE WHEN x.csim > y.csim THEN x.vec_id
      |                       WHEN y.csim > x.csim THEN y.vec_id
      |                       ELSE greatest(x.vec_id, y.vec_id) END AS victim
      |  FROM cs x JOIN cs y ON x.listId = y.listId AND x.vec_id < y.vec_id
      |  WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.30)
      |SELECT c.vec_id, CAST(c.listId AS BIGINT) AS list_id,
      |  round(c.csim, 4) AS centroid_sim_r,
      |  v.victim IS NULL AS kept
      |FROM cs c LEFT JOIN vict v ON v.victim = c.vec_id""".stripMargin
  }

  /** Integer-PQ replay — oracle for e_pq_adc: micro-unit vectors, the
    * per-subspace integer Lloyd rounds unrolled (assign by integer L2
    * with lowest-centroid tiebreak → HALF_UP integer centroid update,
    * empty cells keep their centroid), integer encode, integer ADC
    * tables and the (ip DESC, id ASC) top-k. Every value BIGINT — no
    * float appears anywhere, so the replay is engine-exact by
    * construction.
    */
  private val pqAdcSql: String = {
    val (m, k, trainN, iters, nQueries, topK, refine) = (8, 64, 500, 3, 20, 5, 8)
    val keep = refine * topK
    val dsub = 64 / m
    val roundCtes = (1 to iters).map { i =>
      s"""d$i AS (
        |  SELECT s.vec_id, c.sub, c.c,
        |    sum((s.v - c.val) * (s.v - c.val)) AS dist
        |  FROM ss s JOIN cents${i - 1} c ON c.sub = s.sub AND c.sdim = s.sdim
        |  GROUP BY 1, 2, 3),
        |a$i AS (
        |  SELECT vec_id, sub, c FROM (
        |    SELECT vec_id, sub, c,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) AS rk
        |    FROM d$i) WHERE rk = 1),
        |n$i AS (
        |  SELECT a.sub, a.c, s.sdim,
        |    CAST(round(CAST(sum(s.v) AS DOUBLE) / count(*)) AS BIGINT) AS val
        |  FROM a$i a JOIN ss s ON s.vec_id = a.vec_id AND s.sub = a.sub
        |  GROUP BY 1, 2, 3),
        |cents$i AS (
        |  SELECT p.sub, p.c, p.sdim, coalesce(n.val, p.val) AS val
        |  FROM cents${i - 1} p
        |  LEFT JOIN n$i n ON n.sub = p.sub AND n.c = p.c AND n.sdim = p.sdim)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT vec_id, embedding FROM embeddings),
      |av AS MATERIALIZED (
      |  SELECT vec_id, CAST((ord - 1) // $dsub AS INTEGER) AS sub,
      |    CAST((ord - 1) % $dsub AS INTEGER) AS sdim,
      |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS v
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          unnest(generate_series(1, len(embedding))) AS ord FROM raw)),
      |ss AS MATERIALIZED (
      |  SELECT * FROM av WHERE vec_id IN
      |    (SELECT vec_id FROM raw ORDER BY vec_id LIMIT $trainN)),
      |cents0 AS (
      |  SELECT s.sub, r.rk - 1 AS c, s.sdim, s.v AS val
      |  FROM ss s JOIN (
      |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
      |    FROM (SELECT vec_id FROM raw ORDER BY vec_id LIMIT $k)) r
      |  USING (vec_id)),
      |$roundCtes,
      |encd AS (
      |  SELECT a.vec_id, c.sub, c.c,
      |    sum((a.v - c.val) * (a.v - c.val)) AS dist
      |  FROM av a JOIN cents$iters c ON c.sub = a.sub AND c.sdim = a.sdim
      |  GROUP BY 1, 2, 3),
      |enc AS (
      |  SELECT vec_id, sub, c FROM (
      |    SELECT vec_id, sub, c,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) AS rk
      |    FROM encd) WHERE rk = 1),
      |tab AS (
      |  SELECT q.vec_id AS query_id, c.sub, c.c,
      |    CAST(sum(q.v * c.val) AS BIGINT) AS ip
      |  FROM av q JOIN cents$iters c ON c.sub = q.sub AND c.sdim = q.sdim
      |  WHERE q.vec_id < $nQueries GROUP BY 1, 2, 3),
      |score AS (
      |  SELECT t.query_id, e.vec_id AS neighbor_id,
      |    CAST(sum(t.ip) AS BIGINT) AS approx_ip
      |  FROM enc e JOIN tab t ON t.sub = e.sub AND t.c = e.c
      |  WHERE e.vec_id <> t.query_id GROUP BY 1, 2),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY approx_ip DESC, neighbor_id) AS ark
      |    FROM score) WHERE ark <= $keep),
      |rer AS (
      |  SELECT s.query_id, s.neighbor_id,
      |    CAST(sum(q.v * n.v) AS BIGINT) AS exact_ip
      |  FROM short s
      |  JOIN av q ON q.vec_id = s.query_id
      |  JOIN av n ON n.vec_id = s.neighbor_id
      |    AND n.sub = q.sub AND n.sdim = q.sdim
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, rk, exact_ip FROM (
      |  SELECT query_id, neighbor_id, exact_ip,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY exact_ip DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM rer) WHERE rk <= $topK""".stripMargin
  }

  /** Brute-force cosine top-k in DuckDB — oracle for e_ann_topk AND for
    * e_ivf_topk at full probe (nProbe = nlist ⇒ IVF ≡ brute force).
    */
  private val annBruteSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
      |j AS (
      |  SELECT query_id, neighbor_id,
      |    list_aggregate(list_transform(list_zip(q, v), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
      |      / (sqrt(list_aggregate(list_transform(q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |       * sqrt(list_aggregate(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
      |  FROM q, c WHERE query_id <> neighbor_id)
      |SELECT query_id, neighbor_id, rk, round(cosine, 4) AS cosine_r FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM j) WHERE rk <= 5""".stripMargin

  /** Shared CTE prefix for the md5-fp40 replayable twins
    * ([[dSegmentMd5]]/[[dPresetsMd5]] oracles): fixed-256 md5 chunk fps
    * with the fp-tail low byte `tb` (enough for every power-of-two ≤ 256
    * modulus the samplers use), and the content-defined segmenting fold
    * (avg 4, min 2, max 16) replayed as a recursive running-state CTE —
    * the r_restore_asm pattern. `AS MATERIALIZED` per the repo's DuckDB
    * recursive-CTE rule (window re-evaluation otherwise).
    */
  private val md5ChunkSegSql =
    """d AS MATERIALIZED (
      |  SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) > 0),
      |ch AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS BIGINT) AS idx, m || substr(m, 1, 8) AS fp,
      |    (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) AS tb
      |  FROM (SELECT doc_id, i, md5(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS m
      |        FROM (SELECT doc_id, text,
      |                unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
      |              FROM d))),
      |st AS (
      |  SELECT doc_id, idx, CAST(0 AS BIGINT) AS sid,
      |    CAST(0 AS BIGINT) AS seg, CAST(1 AS BIGINT) AS num
      |  FROM ch WHERE idx = 0
      |  UNION ALL
      |  SELECT c.doc_id, c.idx,
      |    CASE WHEN s.num < 2 THEN s.seg
      |         WHEN c.tb % 4 = 0 THEN s.seg + 1
      |         ELSE s.seg END,
      |    CASE WHEN s.num < 2 THEN s.seg
      |         WHEN c.tb % 4 = 0 THEN s.seg + 1
      |         WHEN s.num + 1 >= 16 THEN s.seg + 1
      |         ELSE s.seg END,
      |    CASE WHEN s.num < 2 THEN s.num + 1
      |         WHEN c.tb % 4 = 0 THEN CAST(1 AS BIGINT)
      |         WHEN s.num + 1 >= 16 THEN CAST(0 AS BIGINT)
      |         ELSE s.num + 1 END
      |  FROM st s JOIN ch c ON c.doc_id = s.doc_id AND c.idx = s.idx + 1),
      |sc AS MATERIALIZED (
      |  SELECT st.doc_id, st.idx, st.sid, ch.fp, ch.tb,
      |    row_number() OVER (PARTITION BY st.doc_id, st.sid ORDER BY st.idx) - 1 AS pos,
      |    count(*) OVER (PARTITION BY st.doc_id, st.sid) AS n
      |  FROM st JOIN ch USING (doc_id, idx))""".stripMargin

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
  private def traceTwoOracle(algo: Int => String): String = {
    def stats(k: Int) =
      s"""s$k AS (SELECT CAST($k AS BIGINT) AS backup_id,
         |  count(DISTINCT path) AS files, count(*) AS chunks,
         |  CAST(sum(size) AS BIGINT) AS data_size,
         |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
         |  CAST(sum(CASE WHEN NOT dup THEN size ELSE 0 END) AS BIGINT) AS unique_size,
         |  CAST(sum(CASE WHEN dup AND w THEN 1 ELSE 0 END) AS BIGINT) AS rewritten_chunks,
         |  CAST(sum(CASE WHEN dup AND w THEN size ELSE 0 END) AS BIGINT) AS rewritten_size
         |  FROM r$k)""".stripMargin
    def lru(k: Int) =
      s"""x$k AS (SELECT seq, cid, lag(seq) OVER (PARTITION BY cid ORDER BY seq) AS prevSeq FROM r$k),
         |m$k AS (SELECT CASE WHEN prevSeq IS NULL THEN 1
         |         WHEN (SELECT count(DISTINCT y.cid) FROM r$k y
         |               WHERE y.seq > x$k.prevSeq AND y.seq < x$k.seq) >= 30 THEN 1
         |         ELSE 0 END AS miss FROM x$k)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_suppkey % 2 + 1 AS b,
       |    's' || CAST(l_suppkey AS VARCHAR) AS path,
       |    md5(CAST(l_partkey * 8 + l_orderkey % 8 AS VARCHAR)) AS h,
       |    CAST((l_partkey * 8 + l_orderkey % 8) % 97 + 1 AS BIGINT) AS size,
       |    l_shipdate, l_orderkey, l_linenumber, l_partkey
       |  FROM lineitem),
       |tr AS (
       |  SELECT b, path, h || substr(h, 1, 8) AS fp, size,
       |    CAST(row_number() OVER (PARTITION BY b
       |      ORDER BY path, l_shipdate, l_orderkey, l_linenumber, l_partkey) AS BIGINT) AS seq
       |  FROM li),
       |f1 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 1 GROUP BY 1),
       |d1 AS MATERIALIZED (
       |  SELECT tr.seq, tr.path, tr.fp, tr.size,
       |    CAST(NULL AS BIGINT) AS idxCid,
       |    tr.seq > f1.firstSeq AS dup,
       |    CAST(-1 AS BIGINT) AS mcid
       |  FROM tr JOIN f1 USING (fp) WHERE b = 1),
       |${algo(1)},
       |p1 AS (
       |  SELECT fp, seq, CAST(floor(greatest(cum - 1, 0) / 512.0) AS BIGINT) AS cid
       |  FROM (SELECT fp, seq, sum(size) OVER (ORDER BY seq
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM w1 WHERE w)),
       |fc1 AS (SELECT fp, min_by(cid, seq) AS firstCid FROM p1 GROUP BY 1),
       |lc1 AS (SELECT fp, max_by(cid, seq) AS cid FROM p1 GROUP BY 1),
       |r1 AS MATERIALIZED (
       |  SELECT w1.seq, w1.path, w1.fp, w1.size, w1.dup, w1.w,
       |    coalesce(p1.cid,
       |      CASE WHEN w1.idxCid IS NOT NULL THEN w1.idxCid ELSE fc1.firstCid END) AS cid
       |  FROM w1 LEFT JOIN p1 ON p1.seq = w1.seq LEFT JOIN fc1 ON fc1.fp = w1.fp),
       |${lru(1)},
       |f2 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 2 GROUP BY 1),
       |d2 AS MATERIALIZED (
       |  SELECT tr.seq, tr.path, tr.fp, tr.size, lc1.cid AS idxCid,
       |    (lc1.cid IS NOT NULL OR tr.seq > f2.firstSeq) AS dup,
       |    coalesce(lc1.cid, -1) AS mcid
       |  FROM tr JOIN f2 USING (fp) LEFT JOIN lc1 USING (fp) WHERE b = 2),
       |${algo(2)},
       |base2 AS (SELECT coalesce(max(cid) + 1, 0) AS nc FROM p1),
       |p2 AS (
       |  SELECT fp, seq, CAST(nc + floor(greatest(cum - 1, 0) / 512.0) AS BIGINT) AS cid
       |  FROM (SELECT fp, seq, sum(size) OVER (ORDER BY seq
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM w2 WHERE w), base2),
       |fc2 AS (SELECT fp, min_by(cid, seq) AS firstCid FROM p2 GROUP BY 1),
       |r2 AS MATERIALIZED (
       |  SELECT w2.seq, w2.path, w2.fp, w2.size, w2.dup, w2.w,
       |    coalesce(p2.cid,
       |      CASE WHEN w2.idxCid IS NOT NULL THEN w2.idxCid ELSE fc2.firstCid END) AS cid
       |  FROM w2 LEFT JOIN p2 ON p2.seq = w2.seq LEFT JOIN fc2 ON fc2.fp = w2.fp),
       |${lru(2)},
       |${stats(1)},
       |${stats(2)}
       |SELECT s1.*,
       |  s1.unique_size + s1.rewritten_size AS stored_size,
       |  (SELECT CAST(coalesce(max(cid) + 1, 0) AS BIGINT) FROM p1) AS containers_written,
       |  CAST(0 AS BIGINT) AS sparse_containers,
       |  (SELECT CAST(sum(miss) AS BIGINT) FROM m1) AS container_reads,
       |  round(s1.data_size / 1048576.0 / (SELECT sum(miss) FROM m1), 6) AS speed_factor,
       |  round(ceil(s1.data_size / 4194304.0) / (SELECT sum(miss) FROM m1), 6) AS cfl
       |FROM s1
       |UNION ALL
       |SELECT s2.*,
       |  s2.unique_size + s2.rewritten_size,
       |  CAST(coalesce((SELECT max(cid) FROM p2) - (SELECT nc FROM base2) + 1, 0) AS BIGINT),
       |  CAST(0 AS BIGINT),
       |  (SELECT CAST(sum(miss) AS BIGINT) FROM m2),
       |  round(s2.data_size / 1048576.0 / (SELECT sum(miss) FROM m2), 6),
       |  round(ceil(s2.data_size / 4194304.0) / (SELECT sum(miss) FROM m2), 6)
       |FROM s2""".stripMargin
  }

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

  val oracle: Map[String, String] = Map(
    // m_* multimodal oracles: structural columns (kind, dims, resize
    // geometry, passthrough sizes, frame grid) recomputed closed-form
    // from range(200) = the generator's arithmetic; content stats join
    // the frozen MediaFixtures literals (spec-gated against the
    // sequential codecs each run).
    "m_media_stats" ->
      s"""WITH f(media_id, luma_ppm, sha1) AS (VALUES
         |${MediaFixtures.mediaStats}),
         |m AS (
         |  SELECT CAST(i AS BIGINT) AS media_id,
         |    CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CASE WHEN i % 3 = 1 THEN 0 ELSE 16 + CAST(i % 4 AS INTEGER) * 8 END AS width,
         |    CASE WHEN i % 3 = 1 THEN 0 ELSE 16 END AS height
         |  FROM range(200) t(i))
         |SELECT m.media_id, m.kind, m.width, m.height, f.luma_ppm, f.sha1
         |FROM m JOIN f USING (media_id)""".stripMargin,
    "m_resize" ->
      s"""WITH ab(media_id, bytes_fix) AS (VALUES
         |${MediaFixtures.audioBytes}),
         |rl(media_id, rl_ppm) AS (VALUES
         |${MediaFixtures.resizedLuma}),
         |m AS (
         |  SELECT CAST(i AS BIGINT) AS media_id, CAST(i % 3 AS INTEGER) AS k,
         |    16 + CAST(i % 4 AS INTEGER) * 8 AS w,
         |    2 + CAST(i % 4 AS INTEGER) AS frames
         |  FROM range(200) t(i)),
         |g AS (
         |  SELECT media_id, k, w, frames,
         |    CASE WHEN k = 1 THEN 0 ELSE w END AS width,
         |    CASE WHEN k = 1 THEN 0 ELSE 16 END AS height,
         |    CASE WHEN k = 0 THEN 12 WHEN k = 1 THEN 0 ELSE w END AS new_width,
         |    CASE WHEN k = 0 THEN (16 * 12) // w WHEN k = 1 THEN 0 ELSE 16 END AS new_height
         |  FROM m)
         |SELECT g.media_id,
         |  CASE g.k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  g.width, g.height, g.new_width, g.new_height,
         |  CASE g.k
         |    WHEN 0 THEN 11 + length(CAST(g.new_height AS VARCHAR)) + 3 * 12 * g.new_height
         |    WHEN 1 THEN ab.bytes_fix
         |    ELSE g.frames * (11 + length(CAST(g.w AS VARCHAR)) + 3 * g.w * 16)
         |  END AS bytes,
         |  rl.rl_ppm
         |FROM g LEFT JOIN ab USING (media_id) LEFT JOIN rl USING (media_id)""".stripMargin,
    "m_frame_sample" ->
      s"""WITH fh(media_id, frame_idx, b0, b1, b2, b3, b4, b5, b6, b7) AS (VALUES
         |${MediaFixtures.frameHists}),
         |v AS (SELECT CAST(i AS BIGINT) AS media_id,
         |        2 + CAST(i % 4 AS INTEGER) AS frames
         |      FROM range(200) t(i) WHERE i % 3 = 2),
         |grid AS (
         |  SELECT media_id, f AS frame_idx FROM (
         |    SELECT media_id, unnest(generate_series(0, frames - 1)) AS f FROM v)
         |  WHERE f % 2 = 0)
         |SELECT g.media_id, g.frame_idx, b0, b1, b2, b3, b4, b5, b6, b7
         |FROM grid g JOIN fh USING (media_id, frame_idx)""".stripMargin,
    // restore twin: the engine reassembles through chunk→dedup→recipe⋈
    // owner-slice→streaming digest; DuckDB states the lossless-roundtrip
    // truth directly off the parquet text
    "d_restore_md5" ->
      """SELECT doc_id, md5(text) AS restored_md5
        |FROM documents WHERE length(text) > 0""".stripMargin,
    // stat-sink roundtrip: the backup.log metrics block recomputed
    // closed-form (fixed-256 geometry; containers_written =
    // (unique_size − 1) div 16384 + 1 by the straddling packing)
    "d_backup_metrics" ->
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
        |  UNION ALL SELECT 'cfl', 0)""".stripMargin,
    // sink roundtrip: full store replay (fixed-256 chunks, first-writer
    // dedup in (path, chunkIdx) stream order, straddling cumulative
    // packing at payload 16384, dup→first-copy pointers) — compared
    // against the final_recipe parquet READ BACK OFF DISK
    "d_backup_sink" ->
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
        |FROM rec GROUP BY 1""".stripMargin,
    // file-level chunker twin: geometry closed-form (payload capacity
    // 4 MiB − 32 KiB = 4161536 B), bytes + md5 straight off the text
    "d_file_restore_md5" ->
      """SELECT doc_id,
        |  CAST((octet_length(encode(text)) + 4161535) // 4161536 AS BIGINT)
        |    AS n_chunks,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
        |  md5(text) AS restored_md5
        |FROM documents WHERE length(text) > 0""".stripMargin,
    "s_backup_chain" -> traceTwoOracle(noAlgo),
    "d_trace_cfl" -> traceTwoOracle(cflAlgo),
    "d_trace_cbr" -> traceTwoOracle(cbrAlgo),
    "d_trace_cap" -> traceTwoOracle(capAlgo),
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_first_writer" ->
      """SELECT l_partkey, first_orderkey, first_linenumber FROM (
        |  SELECT l_partkey, l_orderkey AS first_orderkey, l_linenumber AS first_linenumber,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_suppkey) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q_topk_agg" ->
      """SELECT o_custkey, o_orderkey, rk, cents FROM (
        |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q_session_runs" ->
      """SELECT user_id, CAST(sum(isNew) AS BIGINT) AS n_runs, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS isNew
        |  FROM events) GROUP BY user_id""".stripMargin,
    "q_cum_packing" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey, cum_qty,
        |  CAST(floor((cum_qty - 1) / 500) AS BIGINT) AS bin FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qty
        |  FROM lineitem)""".stripMargin,
    "q_broadcast_join" ->
      """SELECT n_name, count(*) AS order_count,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    "q_lru_stack" ->
      """SELECT user_id, event_type, count(gap) AS reaccesses,
        |  CAST(sum(CASE WHEN gap <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS hits_within_8
        |FROM (
        |  SELECT user_id, event_type,
        |    seq - lag(seq) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
        |  FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
        |    FROM events))
        |GROUP BY user_id, event_type""".stripMargin,
    "q_next_access" ->
      """SELECT event_type, count(reuse_us) AS n_reuses,
        |  CAST(sum(CASE WHEN reuse_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS reuse_within_1h
        |FROM (
        |  SELECT event_type,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id))
        |      - epoch_us(ts) AS reuse_us
        |  FROM events)
        |GROUP BY event_type""".stripMargin,
    "q_min_sample" ->
      """SELECT l_orderkey,
        |  min(md5(CAST(l_partkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || CAST(l_orderkey AS VARCHAR))) AS min_feature,
        |  count(*) AS n_chunks
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q_uniform_sample" ->
      """SELECT l_orderkey, min(digest) AS min_uniform_feature, count(*) AS n_sampled
        |FROM (
        |  SELECT l_orderkey,
        |    md5(CAST(l_partkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || CAST(l_orderkey AS VARCHAR)) AS digest,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM lineitem)
        |WHERE (rn - 1) % 4 = 0 GROUP BY 1""".stripMargin,
    "q_optmin_sample" ->
      """SELECT l_orderkey, digest AS anchor, coalesce(lag8, head) AS optmin_feature FROM (
        |  SELECT l_orderkey, digest, lag8, head,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY digest, rn) AS pick
        |  FROM (
        |    SELECT l_orderkey, digest,
        |      CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS BIGINT) AS rn,
        |      lag(digest, 8) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS lag8,
        |      first_value(digest) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS head
        |    FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |            md5(CAST(l_partkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || CAST(l_orderkey AS VARCHAR)) AS digest
        |          FROM lineitem)))
        |WHERE pick = 1""".stripMargin,
    "q_random_sample" ->
      """SELECT l_returnflag, count(*) AS sampled,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sampled_cents
        |FROM lineitem WHERE l_partkey % 32 = 0 GROUP BY 1""".stripMargin,
    "q_segment_bounds" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(sum(CASE WHEN l_partkey % 64 = 0 THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segId
        |FROM lineitem""".stripMargin,
    "q_quantile" ->
      """SELECT max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN c END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN c END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN c END) AS p99
        |FROM (
        |  SELECT c, CAST(row_number() OVER (ORDER BY c) AS BIGINT) AS rn,
        |    count(*) OVER () AS n
        |  FROM (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders))""".stripMargin,
    "r_cap_rewrite" ->
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
        |  AND b.containerId = rk.containerId""".stripMargin,
    "r_cfl_runs" ->
      s"""WITH r AS ($recipeSql),
        |x AS (SELECT *, CASE WHEN containerId = lag(containerId) OVER (PARTITION BY stream ORDER BY seq)
        |        THEN 0 ELSE 1 END AS newRun FROM r),
        |y AS (SELECT *, CAST(sum(newRun) OVER (PARTITION BY stream ORDER BY seq
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runId FROM x),
        |z AS (SELECT stream, runId, sum(size) AS runBytes FROM y GROUP BY 1, 2)
        |SELECT y.stream, y.seq, y.runId,
        |  y.dup AND z.runBytes < 0.03 * 4161536 AS outOfOrder
        |FROM y JOIN z ON y.stream = z.stream AND y.runId = z.runId""".stripMargin,
    "r_har_sparse" ->
      s"""WITH r AS ($recipeSql),
        |u AS (SELECT containerId, CAST(sum(size) AS BIGINT) AS refBytes FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(refBytes) AS BIGINT) AS total FROM u),
        |s AS (SELECT containerId, refBytes, refBytes / 4161536.0 AS utilization
        |      FROM u WHERE refBytes / 4161536.0 < 0.5),
        |c AS (SELECT *, CAST(sum(refBytes) OVER (ORDER BY refBytes, containerId
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM s)
        |SELECT containerId, refBytes, round(utilization, 6) AS utilization FROM c, t
        |WHERE cum <= CAST(floor(0.05 * total) AS BIGINT)""".stripMargin,
    "r_util_histogram" ->
      s"""WITH r AS ($recipeSql),
        |u AS (SELECT containerId, sum(size) AS refBytes FROM r GROUP BY 1),
        |v AS (SELECT containerId, refBytes, refBytes / 4161536.0 AS utilization FROM u)
        |SELECT CASE WHEN utilization = 0 THEN 0 WHEN utilization > 1 THEN 11
        |  ELSE CAST(floor(utilization * 10 + 1) AS INTEGER) END AS bucket,
        |  count(*) AS containers, CAST(sum(refBytes) AS BIGINT) AS bytes
        |FROM v GROUP BY 1""".stripMargin,
    // greedy assembly-area packing is a data-dependent running-sum reset
    // (no closed window form) — the oracle replays it row by row with a
    // recursive CTE, one step per (stream, seq); area capacity =
    // (cacheSize-1)·4 MiB = 29360128, sizes scaled ×65536 like the query
    "r_restore_asm" ->
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
        |FROM agg a JOIN reads rd ON rd.stream = a.stream""".stripMargin,
    // Belady-OPT is sequential, but it IS oracle-able: the cache state
    // rides the recursion as a LIST of (cid, nxt) structs where nxt is the
    // container's next-use seq. nxt is refreshed on every access from the
    // row's precomputed lead(), so between accesses it is never stale —
    // eviction = max (nxt, cid), exactly the Scala sim's deterministic
    // tie-break (RestoreSim.optStats). AS MATERIALIZED keeps the window
    // CTE from re-running per iteration (13x).
    "r_restore_opt" ->
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
        |FROM agg a JOIN final f ON f.stream = a.stream""".stripMargin,
    "r_restore_lru" ->
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
        |FROM d GROUP BY 1""".stripMargin,
    "s_windowed_throughput" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 minute, ts)) AS window_start_us,
        |  count(*) AS events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY 1""".stripMargin,
    "d_token_regex" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z0-9]')))) AS BIGINT) AS n_distinct_words
        |FROM (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]') AS toks
        |      FROM documents)""".stripMargin,
    "r_access_records" ->
      s"""WITH r AS ($recipeSql),
        |x AS (SELECT stream, seq, containerId,
        |        lag(containerId) OVER (PARTITION BY stream ORDER BY seq) AS prev
        |      FROM r)
        |SELECT stream, seq, containerId FROM x
        |WHERE prev IS NULL OR prev <> containerId""".stripMargin,
    "q_champion_plain" ->
      s"""WITH sf AS ($segFeaturesSql),
        |idx AS (SELECT feature, segId AS candId FROM (
        |  SELECT feature, segId,
        |    row_number() OVER (PARTITION BY feature ORDER BY recency DESC, segId DESC) AS rn
        |  FROM sf) WHERE rn <= 4),
        |shared AS (
        |  SELECT sf.segId, idx.candId, count(DISTINCT sf.feature) AS shared
        |  FROM sf JOIN idx ON sf.feature = idx.feature
        |  WHERE sf.segId <> idx.candId
        |  GROUP BY 1, 2)
        |SELECT segId, candId, shared, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY segId ORDER BY shared DESC, candId DESC) AS BIGINT) AS rank
        |  FROM shared) WHERE rank <= 3""".stripMargin,
    // J3 greedy champion selection with Sparse-Index trimming: the greedy
    // loop is bounded at k=3, so the oracle UNROLLS it — pick champion,
    // anti-join its features out, re-rank, three times. sharedAtPick for
    // later picks counts features remaining AFTER earlier trims (0 kept,
    // like the reference's GSequence re-sort keeps empty candidates).
    "q_champion_trim" ->
      s"""WITH sf AS ($segFeaturesSql),
        |idx AS (SELECT feature, segId AS candId FROM (
        |  SELECT feature, segId, row_number() OVER (PARTITION BY feature ORDER BY recency DESC, segId DESC) AS rn
        |  FROM sf) WHERE rn <= 4),
        |cf AS (
        |  SELECT sf.segId, idx.candId, sf.feature
        |  FROM sf JOIN idx ON sf.feature = idx.feature
        |  WHERE sf.segId <> idx.candId),
        |n1 AS (SELECT segId, candId, count(*) AS cnt FROM cf GROUP BY 1, 2),
        |p1 AS (SELECT segId, candId AS c1, cnt AS shared1 FROM (
        |  SELECT segId, candId, cnt, row_number() OVER (PARTITION BY segId ORDER BY cnt DESC, candId DESC) AS rn FROM n1) WHERE rn = 1),
        |f1 AS (SELECT cf.segId, cf.feature FROM cf JOIN p1 ON cf.segId = p1.segId AND cf.candId = p1.c1),
        |cf2 AS (SELECT cf.segId, cf.candId, cf.feature FROM cf JOIN p1 ON cf.segId = p1.segId
        |        WHERE cf.candId <> p1.c1
        |          AND NOT EXISTS (SELECT 1 FROM f1 WHERE f1.segId = cf.segId AND f1.feature = cf.feature)),
        |n2 AS (SELECT c.segId, c.candId, coalesce(x.cnt, 0) AS cnt FROM
        |        (SELECT n1.segId, n1.candId FROM n1 JOIN p1 ON n1.segId = p1.segId AND n1.candId <> p1.c1) c
        |        LEFT JOIN (SELECT segId, candId, count(*) AS cnt FROM cf2 GROUP BY 1, 2) x
        |          ON c.segId = x.segId AND c.candId = x.candId),
        |p2 AS (SELECT segId, candId AS c2, cnt AS shared2 FROM (
        |  SELECT segId, candId, cnt, row_number() OVER (PARTITION BY segId ORDER BY cnt DESC, candId DESC) AS rn FROM n2) WHERE rn = 1),
        |f2 AS (SELECT cf.segId, cf.feature FROM cf JOIN p2 ON cf.segId = p2.segId AND cf.candId = p2.c2),
        |cf3 AS (SELECT cf2.segId, cf2.candId, cf2.feature FROM cf2 JOIN p2 ON cf2.segId = p2.segId
        |        WHERE cf2.candId <> p2.c2
        |          AND NOT EXISTS (SELECT 1 FROM f2 WHERE f2.segId = cf2.segId AND f2.feature = cf2.feature)),
        |n3 AS (SELECT c.segId, c.candId, coalesce(x.cnt, 0) AS cnt FROM
        |        (SELECT n2.segId, n2.candId FROM n2 JOIN p2 ON n2.segId = p2.segId AND n2.candId <> p2.c2) c
        |        LEFT JOIN (SELECT segId, candId, count(*) AS cnt FROM cf3 GROUP BY 1, 2) x
        |          ON c.segId = x.segId AND c.candId = x.candId),
        |p3 AS (SELECT segId, candId AS c3, cnt AS shared3 FROM (
        |  SELECT segId, candId, cnt, row_number() OVER (PARTITION BY segId ORDER BY cnt DESC, candId DESC) AS rn FROM n3) WHERE rn = 1)
        |SELECT segId, c1 AS candId, CAST(1 AS INTEGER) AS rank, CAST(shared1 AS INTEGER) AS sharedAtPick FROM p1
        |UNION ALL SELECT segId, c2, 2, CAST(shared2 AS INTEGER) FROM p2
        |UNION ALL SELECT segId, c3, 3, CAST(shared3 AS INTEGER) FROM p3""".stripMargin,
    "g_dead_chunks" ->
      s"""WITH r AS ($versionedRecipeSql)
        |SELECT DISTINCT fp, containerId, size FROM r x
        |WHERE version = 'F'
        |  AND NOT EXISTS (SELECT 1 FROM r y WHERE y.version <> 'F' AND y.fp = x.fp)""".stripMargin,
    "g_compaction_plan" ->
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
        |SELECT * FROM agg WHERE dead_chunks > 0""".stripMargin,
    // executed compaction replayed stage by stage: dead set, canonical
    // store (fp -> min container), survivors of affected containers,
    // cumulative-size re-pack in (cid, fp) order (the q_cum_packing
    // window pattern; greatest(cum-1,0) clamps zero-size chunks at pos 0)
    "g_compact_exec" ->
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
        |FROM packed GROUP BY 1""".stripMargin,
    // chain expiry replayed stage by stage at COPY granularity: one row
    // per (fp, containerId) with min(size), live = copies still
    // referenced by v2/v3, dead = anti-join at (fp, cid) — NOT fp —
    // survivors of affected containers re-packed cumulatively in
    // (cid, fp) order (the q_cum_packing pattern)
    "g_chain_expire" ->
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
        |FROM packed GROUP BY 1""".stripMargin,
    // same replay carried one stage further: survivors' (fp, oldCid) ->
    // newCid applied to the surviving recipes via left join + coalesce,
    // then the per-version footprint
    "g_chain_recipes" ->
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
        |FROM rew GROUP BY 1""".stripMargin,
    // the whole trace-replay pipeline (simulation-level all) stage by
    // stage for THREE backups: per-job dedup against the cumulative
    // index, packing cumsum (payload 512), HAR monitor + trim (the
    // r_har_sparse pattern), index upsert, sparse rewriting at backup 3,
    // LRU-30 restore replay via the stack-distance equivalence (the
    // r_restore_lru pattern)
    "d_trace_pipeline" ->
      """WITH li AS (
        |  SELECT l_suppkey % 3 + 1 AS b,
        |    's' || CAST(l_suppkey AS VARCHAR) AS path,
        |    md5(CAST(l_partkey * 8 + l_orderkey % 8 AS VARCHAR)) AS h,
        |    CAST((l_partkey * 8 + l_orderkey % 8) % 97 + 1 AS BIGINT) AS size,
        |    l_shipdate, l_orderkey, l_linenumber, l_partkey
        |  FROM lineitem),
        |tr AS (
        |  SELECT b, path, h || substr(h, 1, 8) AS fp, size,
        |    CAST(row_number() OVER (PARTITION BY b
        |      ORDER BY path, l_shipdate, l_orderkey, l_linenumber, l_partkey) AS BIGINT) AS seq
        |  FROM li),
        |f1 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 1 GROUP BY 1),
        |j1 AS (SELECT tr.*, tr.seq = f1.firstSeq AS uniq
        |       FROM tr JOIN f1 USING (fp) WHERE b = 1),
        |p1 AS (
        |  SELECT fp, seq, CAST(floor(greatest(cum - 1, 0) / 512.0) AS BIGINT) AS cid
        |  FROM (SELECT fp, seq, sum(size) OVER (ORDER BY seq
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM j1 WHERE uniq)),
        |idx1 AS (SELECT fp, cid FROM p1),
        |r1 AS MATERIALIZED (
        |  SELECT j1.seq, j1.path, j1.fp, j1.size, NOT j1.uniq AS dup, idx1.cid
        |  FROM j1 JOIN idx1 USING (fp)),
        |x1 AS (SELECT seq, cid, lag(seq) OVER (PARTITION BY cid ORDER BY seq) AS prevSeq FROM r1),
        |m1 AS (SELECT CASE WHEN prevSeq IS NULL THEN 1
        |         WHEN (SELECT count(DISTINCT y.cid) FROM r1 y
        |               WHERE y.seq > x1.prevSeq AND y.seq < x1.seq) >= 30 THEN 1
        |         ELSE 0 END AS miss FROM x1),
        |u1 AS (SELECT cid, CAST(sum(size) AS BIGINT) AS refB FROM r1 GROUP BY 1),
        |t1 AS (SELECT CAST(sum(refB) AS BIGINT) AS total FROM u1),
        |har1 AS (SELECT cid FROM (
        |    SELECT cid, CAST(sum(refB) OVER (ORDER BY refB, cid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM u1 WHERE refB / 512.0 < 0.5), t1
        |  WHERE cum <= CAST(floor(0.05 * total) AS BIGINT)),
        |f2 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 2 GROUP BY 1),
        |j2 AS (SELECT tr.*, f2.firstSeq, idx1.cid AS idxCid
        |       FROM tr JOIN f2 USING (fp) LEFT JOIN idx1 USING (fp) WHERE b = 2),
        |d2 AS (SELECT *, (idxCid IS NOT NULL OR seq > firstSeq) AS dup FROM j2),
        |w2 AS (SELECT *, (NOT dup) OR (idxCid IS NOT NULL
        |         AND idxCid IN (SELECT cid FROM har1)) AS w FROM d2),
        |base2 AS (SELECT coalesce(max(cid) + 1, 0) AS nc FROM p1),
        |p2 AS (
        |  SELECT fp, seq, CAST(nc + floor(greatest(cum - 1, 0) / 512.0) AS BIGINT) AS cid
        |  FROM (SELECT fp, seq, sum(size) OVER (ORDER BY seq
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM w2 WHERE w), base2),
        |fc2 AS (SELECT fp, min_by(cid, seq) AS firstCid FROM p2 GROUP BY 1),
        |r2 AS MATERIALIZED (
        |  SELECT w2.seq, w2.path, w2.fp, w2.size, w2.dup, w2.w,
        |    coalesce(p2.cid,
        |      CASE WHEN w2.idxCid IS NOT NULL THEN w2.idxCid ELSE fc2.firstCid END) AS cid
        |  FROM w2 LEFT JOIN p2 ON p2.seq = w2.seq LEFT JOIN fc2 ON fc2.fp = w2.fp),
        |x2 AS (SELECT seq, cid, lag(seq) OVER (PARTITION BY cid ORDER BY seq) AS prevSeq FROM r2),
        |m2 AS (SELECT CASE WHEN prevSeq IS NULL THEN 1
        |         WHEN (SELECT count(DISTINCT y.cid) FROM r2 y
        |               WHERE y.seq > x2.prevSeq AND y.seq < x2.seq) >= 30 THEN 1
        |         ELSE 0 END AS miss FROM x2),
        |u2 AS (SELECT cid, CAST(sum(size) AS BIGINT) AS refB FROM r2 GROUP BY 1),
        |t2 AS (SELECT CAST(sum(refB) AS BIGINT) AS total FROM u2),
        |har2 AS (SELECT cid FROM (
        |    SELECT cid, CAST(sum(refB) OVER (ORDER BY refB, cid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM u2 WHERE refB / 512.0 < 0.5), t2
        |  WHERE cum <= CAST(floor(0.05 * total) AS BIGINT)),
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
        |p3 AS (
        |  SELECT fp, seq, CAST(nc + floor(greatest(cum - 1, 0) / 512.0) AS BIGINT) AS cid
        |  FROM (SELECT fp, seq, sum(size) OVER (ORDER BY seq
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM w3 WHERE w), base3),
        |fc3 AS (SELECT fp, min_by(cid, seq) AS firstCid FROM p3 GROUP BY 1),
        |r3 AS MATERIALIZED (
        |  SELECT w3.seq, w3.path, w3.fp, w3.size, w3.dup, w3.w,
        |    coalesce(p3.cid,
        |      CASE WHEN w3.idxCid IS NOT NULL THEN w3.idxCid ELSE fc3.firstCid END) AS cid
        |  FROM w3 LEFT JOIN p3 ON p3.seq = w3.seq LEFT JOIN fc3 ON fc3.fp = w3.fp),
        |x3 AS (SELECT seq, cid, lag(seq) OVER (PARTITION BY cid ORDER BY seq) AS prevSeq FROM r3),
        |m3 AS (SELECT CASE WHEN prevSeq IS NULL THEN 1
        |         WHEN (SELECT count(DISTINCT y.cid) FROM r3 y
        |               WHERE y.seq > x3.prevSeq AND y.seq < x3.seq) >= 30 THEN 1
        |         ELSE 0 END AS miss FROM x3),
        |u3 AS (SELECT cid, CAST(sum(size) AS BIGINT) AS refB FROM r3 GROUP BY 1),
        |t3 AS (SELECT CAST(sum(refB) AS BIGINT) AS total FROM u3),
        |har3 AS (SELECT cid FROM (
        |    SELECT cid, CAST(sum(refB) OVER (ORDER BY refB, cid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM u3 WHERE refB / 512.0 < 0.5), t3
        |  WHERE cum <= CAST(floor(0.05 * total) AS BIGINT)),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS backup_id,
        |  count(DISTINCT path) AS files, count(*) AS chunks,
        |  CAST(sum(size) AS BIGINT) AS data_size,
        |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
        |  CAST(sum(CASE WHEN NOT dup THEN size ELSE 0 END) AS BIGINT) AS unique_size,
        |  CAST(0 AS BIGINT) AS rewritten_chunks, CAST(0 AS BIGINT) AS rewritten_size
        |  FROM r1),
        |s2 AS (SELECT CAST(2 AS BIGINT) AS backup_id,
        |  count(DISTINCT path) AS files, count(*) AS chunks,
        |  CAST(sum(size) AS BIGINT) AS data_size,
        |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
        |  CAST(sum(CASE WHEN NOT dup THEN size ELSE 0 END) AS BIGINT) AS unique_size,
        |  CAST(sum(CASE WHEN dup AND w THEN 1 ELSE 0 END) AS BIGINT) AS rewritten_chunks,
        |  CAST(sum(CASE WHEN dup AND w THEN size ELSE 0 END) AS BIGINT) AS rewritten_size
        |  FROM r2),
        |s3 AS (SELECT CAST(3 AS BIGINT) AS backup_id,
        |  count(DISTINCT path) AS files, count(*) AS chunks,
        |  CAST(sum(size) AS BIGINT) AS data_size,
        |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
        |  CAST(sum(CASE WHEN NOT dup THEN size ELSE 0 END) AS BIGINT) AS unique_size,
        |  CAST(sum(CASE WHEN dup AND w THEN 1 ELSE 0 END) AS BIGINT) AS rewritten_chunks,
        |  CAST(sum(CASE WHEN dup AND w THEN size ELSE 0 END) AS BIGINT) AS rewritten_size
        |  FROM r3)
        |SELECT s1.*,
        |  s1.unique_size + s1.rewritten_size AS stored_size,
        |  (SELECT CAST(coalesce(max(cid) + 1, 0) AS BIGINT) FROM p1) AS containers_written,
        |  (SELECT count(*) FROM har1) AS sparse_containers,
        |  (SELECT CAST(sum(miss) AS BIGINT) FROM m1) AS container_reads,
        |  round(s1.data_size / 1048576.0 / (SELECT sum(miss) FROM m1), 6) AS speed_factor,
        |  round(ceil(s1.data_size / 4194304.0) / (SELECT sum(miss) FROM m1), 6) AS cfl
        |FROM s1
        |UNION ALL
        |SELECT s2.*,
        |  s2.unique_size + s2.rewritten_size,
        |  CAST(coalesce((SELECT max(cid) FROM p2) - (SELECT nc FROM base2) + 1, 0) AS BIGINT),
        |  (SELECT count(*) FROM har2),
        |  (SELECT CAST(sum(miss) AS BIGINT) FROM m2),
        |  round(s2.data_size / 1048576.0 / (SELECT sum(miss) FROM m2), 6),
        |  round(ceil(s2.data_size / 4194304.0) / (SELECT sum(miss) FROM m2), 6)
        |FROM s2
        |UNION ALL
        |SELECT s3.*,
        |  s3.unique_size + s3.rewritten_size,
        |  CAST(coalesce((SELECT max(cid) FROM p3) - (SELECT nc FROM base3) + 1, 0) AS BIGINT),
        |  (SELECT count(*) FROM har3),
        |  (SELECT CAST(sum(miss) AS BIGINT) FROM m3),
        |  round(s3.data_size / 1048576.0 / (SELECT sum(miss) FROM m3), 6),
        |  round(ceil(s3.data_size / 4194304.0) / (SELECT sum(miss) FROM m3), 6)
        |FROM s3""".stripMargin,
    "d_exact_dedup" ->
      """SELECT sha256(text) AS h, count(*) AS cnt, min(doc_id) AS canonical
        |FROM documents GROUP BY 1""".stripMargin,
    // longest-common-SUBSTRING DP replayed row by row: the recursive CTE
    // advances one character of A per step carrying the DP row
    // (L[j] = A[i]==B[j] ? prev[j-1]+1 : 0) as a LIST per pair; best is
    // the running max. AS MATERIALIZED per the repo's recursive-CTE rule.
    "d_lcs_trunc" ->
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 80) AS t
        |  FROM documents WHERE doc_id < 60),
        |p AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb,
        |    length(a.t) AS la, length(b.t) AS lb
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
        |mx AS (SELECT max(la) AS m FROM p),
        |step(a_id, b_id, i, row, best) AS (
        |  SELECT a_id, b_id, 0,
        |    list_transform(range(1, lb + 1), j -> 0), 0
        |  FROM p
        |  UNION ALL
        |  SELECT a_id, b_id, i, row,
        |    greatest(best, coalesce(list_aggregate(row, 'max'), 0)) AS best
        |  FROM (
        |    SELECT s.a_id, s.b_id, s.i + 1 AS i,
        |      CASE WHEN s.i + 1 <= p.la THEN
        |        list_transform(range(1, p.lb + 1), j ->
        |          CASE WHEN substr(p.ta, s.i + 1, 1) = substr(p.tb, j, 1)
        |               THEN coalesce(s.row[j - 1], 0) + 1 ELSE 0 END)
        |      ELSE s.row END AS row,
        |      s.best AS best
        |    FROM step s JOIN p ON p.a_id = s.a_id AND p.b_id = s.b_id
        |    WHERE s.i < (SELECT m FROM mx)))
        |SELECT a_id, b_id, CAST(max(best) AS BIGINT) AS lcs_len
        |FROM step GROUP BY 1, 2""".stripMargin,
    "d_token_count" ->
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,
    "d_lang_id" ->
      """SELECT doc_id, en_hits, CASE WHEN en_hits >= 1 THEN 'en' ELSE 'unk' END AS predicted FROM (
        |  SELECT doc_id,
        |    CAST((length(text) - length(replace(text, ' the ', ''))) / 5
        |      + (length(text) - length(replace(text, ' and ', ''))) / 5
        |      + (length(text) - length(replace(text, ' of ', ''))) / 4 AS BIGINT) AS en_hits
        |  FROM documents)""".stripMargin,
    "d_quality" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
        |  CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS n_dots,
        |  CAST(length(text) - length(replace(text, ',', '')) AS BIGINT) AS n_commas
        |FROM documents""".stripMargin,
    "d_ngram_shingles" ->
      """SELECT doc_id, count(DISTINCT substr(text, CAST(i AS INTEGER), 5)) AS n_shingles
        |FROM (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
        |  FROM documents WHERE length(text) >= 5)
        |GROUP BY doc_id""".stripMargin,
    "d_ngram_jaccard_pairs" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
        |gdf AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
        |rare AS (SELECT grams.doc_id, grams.g FROM grams JOIN gdf USING (g) WHERE gdf.df <= $NgramDfCap),
        |sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM rare x JOIN rare y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, inter, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.05""".stripMargin,
    "d_fixed_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 256 AS BIGINT) AS chunk_offset,
        |  CAST(least(256, len - i * 256) AS BIGINT) AS chunk_size,
        |  sha256(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS chunk_sha
        |FROM (SELECT doc_id, text, len,
        |        unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
        |      FROM d)""".stripMargin,
    "d_ngram_df_stats" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
        |gdf AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT count(*) AS distinct_grams,
        |  CAST(sum(CASE WHEN df <= $NgramDfCap THEN 1 ELSE 0 END) AS BIGINT) AS kept_grams,
        |  CAST(sum(CASE WHEN df > $NgramDfCap THEN 1 ELSE 0 END) AS BIGINT) AS hot_grams,
        |  max(df) AS max_df
        |FROM gdf""".stripMargin,
    "d_rollup_stats" ->
      """SELECT lang, source, count(*) AS docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    // gram familiarity: model agg + corpus-relative rarity + the exact
    // round-half-up micro divisions, all integer — replayed verbatim
    "d_gram_quality" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3),
        |g AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS gram
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, len(text) - 2)) AS i
        |            FROM d)),
        |m AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
        |s AS (SELECT count(*) AS dd, sum(cnt) AS tt FROM m),
        |j AS (SELECT g.doc_id, m.cnt,
        |        (2 * CAST(m.cnt AS HUGEINT) * s.dd < s.tt) AS rare
        |      FROM g JOIN m USING (gram) CROSS JOIN s),
        |a AS (SELECT doc_id, count(*) AS n_grams, sum(cnt) AS sc,
        |        sum(CASE WHEN rare THEN 1 ELSE 0 END) AS rc
        |      FROM j GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST((sc * 2000000 + n_grams) // (2 * n_grams) AS BIGINT)
        |    AS mean_freq_micro,
        |  CAST((rc * 2000000 + n_grams) // (2 * n_grams) AS BIGINT)
        |    AS rare_ppm
        |FROM a""".stripMargin,
    // domain quota: the TopKBy (score desc, id asc) total order equals
    // the window rank over (md5-prefix asc, doc_id asc)
    "d_quota_sample" ->
      s"""WITH d AS (SELECT source, doc_id, md5(text) AS m
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY ${h48Sql("m")} ASC, doc_id ASC) AS BIGINT) AS rk
        |  FROM d)
        |WHERE rk <= $DomainQuota""".stripMargin,
    // vocab + OOV: deterministic top-V boundary (count desc, token asc),
    // exact round-half-up ppm
    "d_vocab_oov" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (
        |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
        |  ORDER BY cnt DESC, tok ASC LIMIT $VocabSize)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  CAST((sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 2000000 + count(*))
        |    // (2 * count(*)) AS BIGINT) AS oov_ppm
        |FROM toks LEFT JOIN vocab v USING (tok) GROUP BY doc_id""".stripMargin,
    // Bloom membership: identical probe arithmetic (8-nibble Horner mod
    // m, m = greatest(64, 8·|store|)), identical store/batch split
    "d_bloom_dedup" ->
      s"""WITH d0 AS (SELECT doc_id, md5(text) AS m0
        |           FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT a.doc_id,
        |        CASE WHEN a.doc_id % 10 = 1 AND b.m0 IS NOT NULL
        |             THEN b.m0 ELSE a.m0 END AS m
        |      FROM d0 a LEFT JOIN d0 b ON b.doc_id = a.doc_id - 1),
        |params AS (SELECT greatest(64, 8 * count(*)) AS mm
        |           FROM d WHERE doc_id % 2 = 0),
        |pos AS (SELECT doc_id, m, hv % mm AS pos FROM (
        |    SELECT doc_id, m, unnest([
        |      ${hexSql("m", 1, 8)},
        |      ${hexSql("m", 9, 8)},
        |      ${hexSql("m", 17, 8)},
        |      ${hexSql("m", 25, 8)}]) AS hv FROM d) CROSS JOIN params),
        |bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 2 = 0),
        |probe AS (
        |  SELECT p.doc_id, p.m,
        |    CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bits_set
        |  FROM (SELECT * FROM pos WHERE doc_id % 2 = 1) p
        |  LEFT JOIN bits b USING (pos) GROUP BY 1, 2),
        |store AS (SELECT DISTINCT m FROM d WHERE doc_id % 2 = 0)
        |SELECT probe.doc_id, bits_set, bits_set = 4 AS bloom_hit,
        |  s.m IS NOT NULL AS exact_dup
        |FROM probe LEFT JOIN store s USING (m)""".stripMargin,
    // paragraph dedup: identical fixed-window split, first-writer =
    // min (doc_id, pid) struct, kept text reassembled with the same
    // ' ' / '\n' joins before hashing
    "d_para_dedup" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents WHERE text IS NOT NULL),
        |paras AS (
        |  SELECT doc_id, CAST(pid AS BIGINT) AS pid,
        |    array_to_string(ts[pid * $ParaTokens + 1 : pid * $ParaTokens + $ParaTokens], ' ') AS para
        |  FROM (SELECT doc_id, ts,
        |          unnest(range((len(ts) + ${ParaTokens - 1}) // $ParaTokens)) AS pid
        |        FROM tok)),
        |fw AS (SELECT md5(para) AS h,
        |         min(struct_pack(d := doc_id, p := pid)) AS w
        |       FROM paras GROUP BY 1),
        |v AS (SELECT p.doc_id, p.pid, p.para,
        |        f.w.d = p.doc_id AND f.w.p = p.pid AS keep
        |      FROM paras p JOIN fw f ON f.h = md5(p.para)),
        |agg AS (SELECT doc_id, count(*) AS n_paras,
        |          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |        FROM v GROUP BY 1),
        |kt AS (SELECT doc_id,
        |         string_agg(para, chr(10) ORDER BY pid) AS kept_text
        |       FROM v WHERE keep GROUP BY 1)
        |SELECT agg.doc_id, n_paras, n_kept,
        |  md5(coalesce(kept_text, '')) AS kept_md5
        |FROM agg LEFT JOIN kt USING (doc_id)""".stripMargin,
    // tf·idf top terms: identical integer score (tf·SCALE // df), the
    // top_k_by (score desc, tid asc) total order = the window rank
    "d_tfidf_topterms" ->
      s"""WITH toks AS (
        |  SELECT doc_id, tok, ${hexSql("md5(tok)", 1, 15)} AS tid
        |  FROM (SELECT doc_id,
        |          unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
        |        FROM documents WHERE text IS NOT NULL)),
        |tf AS (SELECT doc_id, tid, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tid, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, tid FROM toks) GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, tid, tf * $TfidfScale // df AS score
        |  FROM tf JOIN df USING (tid)),
        |top AS (
        |  SELECT doc_id, tid, score, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tid ASC) AS BIGINT) AS rk
        |  FROM scored),
        |vocab AS (SELECT DISTINCT tok, tid FROM toks)
        |SELECT doc_id, rk, tok, score
        |FROM top JOIN vocab USING (tid) WHERE rk <= $TfidfK""".stripMargin,
    // mixture apportionment: identical Hamilton arithmetic (exact
    // integer floor + largest-remainder extras, ties (lang, source)
    // asc) and the d_quota_sample md5-prefix selection order
    "d_mix_alloc" ->
      s"""WITH d AS (SELECT lang, source, doc_id, md5(text) AS m
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT lang, source, count(*) AS cnt FROM d GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS c_total FROM g),
        |g2 AS (SELECT lang, source, cnt,
        |         $MixTarget * cnt // c_total AS fl,
        |         $MixTarget * cnt % c_total AS rem
        |       FROM g, tot),
        |r AS (SELECT $MixTarget - sum(fl) AS extra FROM g2),
        |rk AS (SELECT lang, source, fl, row_number() OVER (
        |         ORDER BY rem DESC, lang ASC, source ASC) AS grank
        |       FROM g2),
        |alloc AS (SELECT lang, source,
        |            CAST(fl + CASE WHEN grank <= extra THEN 1 ELSE 0 END
        |              AS BIGINT) AS alloc
        |          FROM rk, r),
        |sel AS (SELECT lang, source, doc_id, CAST(row_number() OVER (
        |          PARTITION BY lang, source
        |          ORDER BY ${h48Sql("m")} ASC, doc_id ASC) AS BIGINT) AS rk
        |        FROM d)
        |SELECT sel.lang, sel.source, doc_id, rk, alloc
        |FROM sel JOIN alloc USING (lang, source) WHERE rk <= alloc""".stripMargin,
    // language rebalance: identical equal-share Hamilton targets
    // (alphabetic-rank extras) + the same md5-prefix per-lang rank;
    // copies arithmetic replayed verbatim
    "d_lang_balance" ->
      s"""WITH d AS (SELECT lang, doc_id, md5(text) AS m
        |           FROM documents
        |           WHERE text IS NOT NULL AND lang IS NOT NULL),
        |census AS (SELECT lang, count(*) AS cnt FROM d GROUP BY 1),
        |scal AS (SELECT sum(cnt) AS c_total, count(*) AS n_langs
        |         FROM census),
        |tgt AS (SELECT lang, cnt,
        |          c_total // n_langs + CASE WHEN
        |            CAST(row_number() OVER (ORDER BY lang ASC) AS BIGINT)
        |              <= c_total % n_langs THEN 1 ELSE 0 END AS u
        |        FROM census, scal),
        |rk AS (SELECT lang, doc_id, CAST(row_number() OVER (
        |         PARTITION BY lang
        |         ORDER BY ${h48Sql("m")} ASC, doc_id ASC) AS BIGINT) AS rk
        |       FROM d)
        |SELECT rk.lang, doc_id, rk,
        |  CAST(u // cnt + CASE WHEN rk.rk <= u % cnt THEN 1 ELSE 0 END
        |    AS BIGINT) AS copies
        |FROM rk JOIN tgt USING (lang)
        |WHERE u // cnt + CASE WHEN rk.rk <= u % cnt THEN 1 ELSE 0 END
        |  > 0""".stripMargin,
    // shard balance: identical content-keyed shard id and exact
    // round-half-up token-share ppm
    "d_shard_stats" ->
      s"""WITH d0 AS (SELECT md5(text) AS m,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT ${h48Sql("m")} % $ShardCount AS shard, toks FROM d0),
        |per AS (SELECT shard, count(*) AS n_docs, sum(toks) AS n_tokens
        |        FROM d GROUP BY 1),
        |tot AS (SELECT sum(n_tokens) AS tot FROM per)
        |SELECT shard, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((n_tokens * 2000000 + tot) // (2 * tot) AS BIGINT)
        |    AS share_ppm
        |FROM per, tot""".stripMargin,
    // PII scrub: identical augmentation arithmetic, identical patterns
    // (dialect-identical regex subset), identical email→IP→phone global
    // scrub order — counts and scrubbed-text md5 must both match
    "d_pii_scrub" ->
      s"""WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || CAST(doc_id % 13 AS VARCHAR) || '.example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR) || ' up' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || '-' || CAST((doc_id * 3) % 9000 + 1000 AS VARCHAR) || ' soon' ELSE '' END
        |    AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '$PiiEmail')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(aug, '$PiiIp')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(aug, '$PiiPhone')) AS BIGINT) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug, '$PiiEmail', '<EMAIL>', 'g'), '$PiiIp', '<IP>', 'g'), '$PiiPhone', '<PHONE>', 'g')) AS scrub_md5
        |FROM aug""".stripMargin,
    "d_curation" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, text,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |  FROM documents),
        |q AS (SELECT *, n_chars >= 100 AND n_spaces * 100 >= n_chars * 5 AS quality_ok FROM d),
        |qok AS (SELECT *, md5(text) AS h FROM q WHERE quality_ok),
        |keep AS (SELECT h, min(doc_id) AS keep_id FROM qok GROUP BY 1),
        |marked AS (
        |  SELECT qok.lang, qok.source, qok.doc_id <> keep.keep_id AS is_dup
        |  FROM qok JOIN keep USING (h)),
        |dup_stats AS (
        |  SELECT lang, source,
        |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup,
        |    CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS kept
        |  FROM marked GROUP BY 1, 2)
        |SELECT q.lang, q.source, count(*) AS docs,
        |  CAST(sum(CASE WHEN quality_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_quality,
        |  CAST(COALESCE(any_value(dup_stats.drop_dup), 0) AS BIGINT) AS drop_dup,
        |  CAST(COALESCE(any_value(dup_stats.kept), 0) AS BIGINT) AS kept
        |FROM q LEFT JOIN dup_stats ON q.lang = dup_stats.lang AND q.source = dup_stats.source
        |GROUP BY 1, 2""".stripMargin,
    // distinct SHA-1 fps ≡ distinct chunk contents (collision-free in any
    // test corpus); boundaries arithmetic like d_fixed_chunks
    "d_chunk_stats" ->
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
        |FROM chunks""".stripMargin,
    // end-to-end clustering oracle: banded md5 MinHash → hub-star buckets
    // → integer-arithmetic Jaccard verify → recursive-CTE min-label
    // closure ≡ the Spark job's iterative connected components
    "d_minhash_cluster" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
        |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
        |sigs AS (
        |  SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || ':' || g)) AS sig
        |  FROM grams, bands GROUP BY doc_id, band),
        |hubs AS (SELECT band, sig, min(doc_id) AS hub FROM sigs GROUP BY band, sig),
        |cand AS (
        |  SELECT DISTINCT h.hub AS a, s.doc_id AS b
        |  FROM sigs s JOIN hubs h USING (band, sig) WHERE s.doc_id <> h.hub),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, count(*) AS inter
        |  FROM cand c
        |  JOIN grams ga ON ga.doc_id = c.a
        |  JOIN grams gb ON gb.doc_id = c.b AND gb.g = ga.g
        |  GROUP BY c.a, c.b),
        |edges AS (
        |  SELECT i.a, i.b FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.a
        |  JOIN sizes sb ON sb.doc_id = i.b
        |  WHERE 3 * i.inter >= sa.n + sb.n),
        |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
        |  WHERE r.label < s.y)
        |SELECT node AS doc_id, min(label) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin,
    "d_neardup_prune" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
        |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
        |sigs AS (
        |  SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || ':' || g)) AS sig
        |  FROM grams, bands GROUP BY doc_id, band),
        |hubs AS (SELECT band, sig, min(doc_id) AS hub FROM sigs GROUP BY band, sig),
        |cand AS (
        |  SELECT DISTINCT h.hub AS a, s.doc_id AS b
        |  FROM sigs s JOIN hubs h USING (band, sig) WHERE s.doc_id <> h.hub),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, count(*) AS inter
        |  FROM cand c
        |  JOIN grams ga ON ga.doc_id = c.a
        |  JOIN grams gb ON gb.doc_id = c.b AND gb.g = ga.g
        |  GROUP BY c.a, c.b),
        |edges AS (
        |  SELECT i.a, i.b FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.a
        |  JOIN sizes sb ON sb.doc_id = i.b
        |  WHERE 3 * i.inter >= sa.n + sb.n),
        |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
        |  WHERE r.label < s.y),
        |clusters AS (
        |  SELECT node AS doc_id, min(label) AS cluster_id
        |  FROM reach GROUP BY node),
        |wl AS (
        |  SELECT c.doc_id, c.cluster_id, CAST(length(dd.text) AS BIGINT) AS char_len
        |  FROM clusters c JOIN documents dd USING (doc_id)),
        |rnk AS (
        |  SELECT doc_id, cluster_id,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY char_len DESC, doc_id ASC) AS rn
        |  FROM wl),
        |canon AS (SELECT cluster_id, doc_id AS canon_id FROM rnk WHERE rn = 1),
        |csize AS (SELECT cluster_id, count(*) AS cluster_size FROM wl GROUP BY 1)
        |SELECT w.doc_id, w.cluster_id, s.cluster_size, c.canon_id,
        |  CAST(CASE WHEN w.doc_id = c.canon_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM wl w JOIN canon c USING (cluster_id) JOIN csize s USING (cluster_id)""".stripMargin,
    "d_simhash_md5" ->
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |nib AS (
        |  SELECT doc_id, p, strpos('0123456789abcdef', substr(md5(w), CAST(p AS INTEGER), 1)) - 1 AS nib
        |  FROM words, (SELECT unnest(generate_series(1, 15)) AS p)),
        |bits AS (
        |  SELECT doc_id, (p - 1) * 4 + b AS j, (nib >> CAST(b AS INTEGER)) & 1 AS bit
        |  FROM nib, (SELECT unnest(generate_series(0, 3)) AS b)),
        |s AS (SELECT doc_id, j, sum(2 * bit - 1) AS s FROM bits GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS sig
        |  FROM s GROUP BY 1),
        |bv AS (
        |  SELECT doc_id, sig, t, (sig >> CAST(15 * t AS INTEGER)) & 32767 AS v
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS t)),
        |hubs AS (SELECT t, v, min(doc_id) AS hub FROM bv GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT h.hub AS a, b.doc_id AS b
        |  FROM bv b JOIN hubs h USING (t, v) WHERE b.doc_id <> h.hub)
        |SELECT a, b, hamming FROM (
        |  SELECT c.a, c.b, CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.a
        |  JOIN sig sb ON sb.doc_id = c.b)
        |WHERE hamming <= 3""".stripMargin,
    "d_dup_spans" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
        |pos AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 16) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |dupg AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dupg g USING (gram)),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 16
        |      THEN 0 ELSE 1 END AS is_brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM brk)
        |SELECT doc_id, min(i) AS span_start,
        |  max(i) + 16 - min(i) AS span_len, count(*) AS dup_grams
        |FROM isl GROUP BY doc_id, span_id""".stripMargin,
    "d_dup_span_stats" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
        |pos AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 16) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |dupg AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dupg g USING (gram)),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 16
        |      THEN 0 ELSE 1 END AS is_brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, min(i) AS span_start,
        |    max(i) + 16 - min(i) AS span_len
        |  FROM isl GROUP BY doc_id, span_id),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_spans, sum(span_len) AS dup_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_spans, 0) AS n_spans,
        |  COALESCE(a.dup_chars, 0) AS dup_chars,
        |  length(d.text) AS char_len,
        |  (COALESCE(a.dup_chars, 0) * 2000000 + length(d.text))
        |    // (2 * length(d.text)) AS dup_ppm
        |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "d_self_rep" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
        |pos AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 16) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |dupg AS (
        |  SELECT doc_id, gram FROM pos
        |  GROUP BY doc_id, gram HAVING count(*) >= 2),
        |dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dupg g USING (doc_id, gram)),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 16
        |      THEN 0 ELSE 1 END AS is_brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, min(i) AS span_start,
        |    max(i) + 16 - min(i) AS span_len
        |  FROM isl GROUP BY doc_id, span_id),
        |agg AS (
        |  SELECT doc_id, count(*) AS rep_spans, sum(span_len) AS rep_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.rep_spans, 0) AS rep_spans,
        |  COALESCE(a.rep_chars, 0) AS rep_chars,
        |  length(d.text) AS char_len,
        |  (COALESCE(a.rep_chars, 0) * 2000000 + length(d.text))
        |    // (2 * length(d.text)) AS rep_ppm
        |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "d_suffix_rank" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE text IS NOT NULL AND substr(md5(text), 1, 1) = '0'),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |        substr(text, CAST(i AS INTEGER)) AS suf
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, length(text))) AS i FROM d))
        |SELECT doc_id, pos,
        |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS srank
        |FROM s""".stripMargin,
    "d_sa_gram_stats" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE text IS NOT NULL AND substr(md5(text), 1, 1) = '0'
        |             AND length(text) >= 16),
        |g AS (SELECT doc_id, length(text) AS char_len,
        |        substr(text, CAST(i AS INTEGER), 16) AS gram
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |c AS (SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS nd
        |      FROM g GROUP BY gram)
        |SELECT doc_id, char_len, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
        |  CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS xdoc_grams
        |FROM g JOIN c USING (gram)
        |GROUP BY doc_id, char_len""".stripMargin,
    "d_dup_trim" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
        |pos AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 16) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |dupg AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dupg g USING (gram)),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 16
        |      THEN 0 ELSE 1 END AS is_brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 16 - min(i) AS l
        |  FROM isl GROUP BY doc_id, span_id),
        |segs AS (
        |  SELECT doc_id,
        |    COALESCE(lag(s + l) OVER (PARTITION BY doc_id ORDER BY s), 1)
        |      AS ks,
        |    s AS ke
        |  FROM spans
        |  UNION ALL
        |  SELECT doc_id, max(s + l) AS ks, NULL AS ke
        |  FROM spans GROUP BY doc_id),
        |keptparts AS (
        |  SELECT g.doc_id, g.ks,
        |    substr(d.text, CAST(g.ks AS INTEGER),
        |      CAST(COALESCE(g.ke, length(d.text) + 1) - g.ks AS INTEGER))
        |      AS part
        |  FROM segs g JOIN d USING (doc_id)
        |  WHERE COALESCE(g.ke, length(d.text) + 1) > g.ks),
        |kept AS (
        |  SELECT s.doc_id,
        |    COALESCE(string_agg(kp.part, '' ORDER BY kp.ks), '') AS kt
        |  FROM (SELECT DISTINCT doc_id FROM spans) s
        |  LEFT JOIN keptparts kp USING (doc_id)
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, length(d.text) AS char_len,
        |  length(COALESCE(k.kt, d.text)) AS kept_len,
        |  length(d.text) - length(COALESCE(k.kt, d.text)) AS dup_chars,
        |  md5(COALESCE(k.kt, d.text)) AS kept_md5
        |FROM d LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "d_dup_span_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
        |pos AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 16) AS gram
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |keep AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) <= 32),
        |m AS (
        |  SELECT pa.doc_id AS a, pb.doc_id AS b,
        |    pb.i - pa.i AS diag, pa.i AS pa
        |  FROM pos pa
        |  JOIN keep k ON k.gram = pa.gram
        |  JOIN pos pb ON pb.gram = pa.gram AND pa.doc_id < pb.doc_id),
        |brk AS (
        |  SELECT a, b, diag, pa,
        |    CASE WHEN pa - lag(pa) OVER (PARTITION BY a, b, diag
        |      ORDER BY pa) = 1 THEN 0 ELSE 1 END AS is_brk
        |  FROM m),
        |isl AS (
        |  SELECT a, b, diag, pa,
        |    sum(is_brk) OVER (PARTITION BY a, b, diag ORDER BY pa
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM brk)
        |SELECT a, b, min(pa) AS a_start, min(pa) + diag AS b_start,
        |  count(*) AS run_grams, count(*) + 15 AS run_len
        |FROM isl GROUP BY a, b, diag, run_id""".stripMargin,
    "d_decontam" ->
      """WITH d AS (SELECT doc_id, text,
        |    substr(md5(text), 1, 1) IN ('0','1') AS is_eval FROM documents),
        |tok AS (SELECT doc_id, is_eval,
        |    regexp_extract_all(text, '[A-Za-z0-9_]+') AS ts FROM d),
        |sh AS (
        |  SELECT DISTINCT doc_id, is_eval,
        |    array_to_string(ts[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)],
        |      ' ') AS s
        |  FROM (SELECT doc_id, is_eval, ts,
        |          unnest(generate_series(1, len(ts) - 7)) AS i
        |        FROM tok WHERE len(ts) >= 8)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE is_eval),
        |tr AS (SELECT doc_id, s FROM sh WHERE NOT is_eval),
        |m AS (SELECT t.doc_id, count(*) AS matched
        |      FROM tr t JOIN ev USING (s) GROUP BY t.doc_id),
        |n AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id)
        |SELECT n.doc_id, n.n_shingles, COALESCE(m.matched, 0) AS matched,
        |  COALESCE(m.matched, 0) > 0 AS contaminated
        |FROM n LEFT JOIN m USING (doc_id)""".stripMargin,
    // brute-force bag join, NO prefix filter: hash-green proves the
    // Spark side's prefix filtering loses no pair
    "d_clone_pairs" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |cnt AS MATERIALIZED (
        |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter
        |  FROM cnt a JOIN cnt b ON b.tok = a.tok AND b.doc_id > a.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.a, i.b, na.n AS n_a, nb.n AS n_b, i.inter
        |FROM inter i
        |JOIN n na ON na.doc_id = i.a
        |JOIN n nb ON nb.doc_id = i.b
        |WHERE i.inter * 100 >= greatest(na.n, nb.n) * 70""".stripMargin,
    "d_clone_groups" ->
      """WITH RECURSIVE
        |toks AS MATERIALIZED (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |cnt AS MATERIALIZED (
        |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter
        |  FROM cnt a JOIN cnt b ON b.tok = a.tok AND b.doc_id > a.doc_id
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT i.a, i.b FROM inter i
        |  JOIN n na ON na.doc_id = i.a
        |  JOIN n nb ON nb.doc_id = i.b
        |  WHERE i.inter * 100 >= greatest(na.n, nb.n) * 70),
        |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
        |  WHERE r.label < s.y)
        |SELECT node AS doc_id, min(label) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin,
    // brute-force repo-set join, NO prefix filter: hash-green proves the
    // repo-granularity prefix filtering loses no pair either
    "d_repo_forks" ->
      s"""WITH $repoFilesSql,
        |sets AS MATERIALIZED (SELECT DISTINCT repo, h FROM files),
        |sizes AS (SELECT repo, count(*) AS n FROM sets GROUP BY 1),
        |pairs AS (
        |  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS inter
        |  FROM sets a JOIN sets b ON b.h = a.h AND a.repo < b.repo
        |  GROUP BY 1, 2)
        |SELECT repo_a, repo_b, sa.n AS n_a, sb.n AS n_b, inter
        |FROM pairs
        |JOIN sizes sa ON sa.repo = repo_a
        |JOIN sizes sb ON sb.repo = repo_b
        |WHERE inter * 100 >= (sa.n + sb.n - inter) * 50""".stripMargin,
    "d_fork_families" ->
      s"""WITH RECURSIVE $repoFilesSql,
        |sets AS MATERIALIZED (SELECT DISTINCT repo, h FROM files),
        |sizes AS (SELECT repo, count(*) AS n FROM sets GROUP BY 1),
        |pairs AS (
        |  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS inter
        |  FROM sets a JOIN sets b ON b.h = a.h AND a.repo < b.repo
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT repo_a AS a, repo_b AS b FROM pairs
        |  JOIN sizes sa ON sa.repo = repo_a
        |  JOIN sizes sb ON sb.repo = repo_b
        |  WHERE inter * 100 >= (sa.n + sb.n - inter) * 50),
        |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
        |reach(node, label) AS (
        |  SELECT repo, repo FROM sizes
        |  UNION
        |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
        |  WHERE r.label < s.y),
        |lab AS (SELECT node AS repo, min(label) AS cl FROM reach GROUP BY node),
        |fam AS (SELECT cl, min(repo) AS family, count(*) AS family_size
        |        FROM lab GROUP BY cl)
        |SELECT l.repo, f.family, f.family_size
        |FROM lab l JOIN fam f USING (cl)""".stripMargin,
    "d_fork_prune" ->
      s"""WITH RECURSIVE $repoFilesSql,
        |sets AS MATERIALIZED (SELECT DISTINCT repo, h FROM files),
        |sizes AS (SELECT repo, count(*) AS n FROM sets GROUP BY 1),
        |pairs AS (
        |  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS inter
        |  FROM sets a JOIN sets b ON b.h = a.h AND a.repo < b.repo
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT repo_a AS a, repo_b AS b FROM pairs
        |  JOIN sizes sa ON sa.repo = repo_a
        |  JOIN sizes sb ON sb.repo = repo_b
        |  WHERE inter * 100 >= (sa.n + sb.n - inter) * 50),
        |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
        |reach(node, label) AS (
        |  SELECT repo, repo FROM sizes
        |  UNION
        |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
        |  WHERE r.label < s.y),
        |lab AS (SELECT node AS repo, min(label) AS cl FROM reach GROUP BY node),
        |fam AS (SELECT cl, min(repo) AS family, count(*) AS family_size
        |        FROM lab GROUP BY cl),
        |fs AS (
        |  SELECT l.repo, f.family, f.family_size, s.n AS n_files
        |  FROM lab l JOIN fam f USING (cl) JOIN sizes s ON s.repo = l.repo),
        |best AS (SELECT family, max(n_files) AS canon_files FROM fs GROUP BY 1),
        |canon AS (
        |  SELECT fs.family, min(fs.repo) AS canon
        |  FROM fs JOIN best ON best.family = fs.family
        |    AND fs.n_files = best.canon_files
        |  GROUP BY 1)
        |SELECT fs.repo, fs.family, fs.family_size, fs.n_files, c.canon,
        |  fs.repo = c.canon AS keep
        |FROM fs JOIN canon c USING (family)""".stripMargin,
    "d_merkle_dirs" ->
      s"""WITH $repoFilesSql,
        |uf AS (SELECT DISTINCT repo, path, h FROM files),
        |anc AS (
        |  SELECT repo,
        |    CASE WHEN i = 0 THEN '' ELSE array_to_string(p[1:i], '/') END AS dir,
        |    md5(array_to_string(p[i+1:len(p)], '/') || ':' || h) AS mm
        |  FROM (SELECT repo, h, p, unnest(range(0, len(p))) AS i
        |        FROM (SELECT repo, h, string_split(path, '/') AS p FROM uf))),
        |terms AS (SELECT DISTINCT repo, dir, ${h48Sql("mm")} AS term FROM anc),
        |census AS (
        |  SELECT repo, dir, count(*) AS n_files,
        |    CAST(sum(CAST(term AS HUGEINT)) % 281474976710656 AS BIGINT) AS sig
        |  FROM terms GROUP BY 1, 2),
        |shares AS (SELECT sig, n_files, count(*) AS n_locations,
        |    count(DISTINCT repo) AS n_repos
        |  FROM census GROUP BY 1, 2)
        |SELECT c.repo, c.dir, c.n_files, c.sig, s.n_locations, s.n_repos
        |FROM census c JOIN shares s USING (sig, n_files)""".stripMargin,
    "d_merkle_prune" ->
      s"""WITH $repoFilesSql,
        |uf AS (SELECT DISTINCT repo, path, h FROM files),
        |anc AS (
        |  SELECT repo,
        |    CASE WHEN i = 0 THEN '' ELSE array_to_string(p[1:i], '/') END AS dir,
        |    md5(array_to_string(p[i+1:len(p)], '/') || ':' || h) AS mm
        |  FROM (SELECT repo, h, p, unnest(range(0, len(p))) AS i
        |        FROM (SELECT repo, h, string_split(path, '/') AS p FROM uf))),
        |terms AS (SELECT DISTINCT repo, dir, ${h48Sql("mm")} AS term FROM anc),
        |census AS (
        |  SELECT repo, dir, count(*) AS n_files,
        |    CAST(sum(CAST(term AS HUGEINT)) % 281474976710656 AS BIGINT) AS sig
        |  FROM terms GROUP BY 1, 2),
        |shares AS (SELECT sig, n_files, count(*) AS n_locations,
        |    min(struct_pack(r := repo, d := dir)) AS c
        |  FROM census GROUP BY 1, 2)
        |SELECT census.repo, census.dir, census.n_files, census.sig,
        |  s.n_locations, s.c.r AS canon_repo, s.c.d AS canon_dir,
        |  census.repo = s.c.r AND census.dir = s.c.d AS keep
        |FROM census JOIN shares s USING (sig, n_files)""".stripMargin,
    "d_commit_deltas" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        |files AS MATERIALIZED (
        |  SELECT source || '_r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
        |    cseq,
        |    'f' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
        |    md5(CASE WHEN doc_id % 5 = 0
        |        THEN text || '#v' || CAST(CAST(floor(cseq / 2) AS BIGINT) AS VARCHAR)
        |        ELSE text END) AS h
        |  FROM d, (SELECT unnest(range(0, 4)) AS cseq)
        |  WHERE doc_id % 4 <= cseq),
        |v AS (SELECT DISTINCT repo, cseq, path, h FROM files),
        |fs AS (SELECT repo, path, h, min(cseq) AS intro FROM v GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT v.repo, v.cseq, count(*) AS n_files,
        |    CAST(sum(CASE WHEN v.cseq = fs.intro THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM v JOIN fs USING (repo, path, h) GROUP BY 1, 2)
        |SELECT repo, cseq, n_files, n_new, n_files - n_new AS n_carried,
        |  CAST(floor(n_new * 100 / n_files) AS BIGINT) AS new_ratio_pct
        |FROM agg""".stripMargin,
    "d_winnow" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT doc_id, i, length(text) - 7 AS ngrams,
        |    md5(substr(text, CAST(i AS INTEGER), 8)) AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 7)) AS i
        |        FROM d)),
        |sel AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    i, ngrams
        |  FROM grams)
        |SELECT DISTINCT doc_id, fp FROM sel WHERE i <= ngrams - 3""".stripMargin,
    "d_winnow_pairs" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT doc_id, i, length(text) - 7 AS ngrams,
        |    md5(substr(text, CAST(i AS INTEGER), 8)) AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 7)) AS i
        |        FROM d)),
        |sel AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    i, ngrams
        |  FROM grams),
        |w AS (SELECT DISTINCT doc_id, fp FROM sel WHERE i <= ngrams - 3),
        |fdf AS (SELECT fp, count(*) AS c FROM w GROUP BY 1),
        |kept AS (SELECT w.doc_id, w.fp FROM w JOIN fdf USING (fp) WHERE c <= $NgramDfCap),
        |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS overlap
        |  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, p.overlap, sa.n AS na, sb.n AS nb,
        |  round(CAST(p.overlap AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.a
        |JOIN sizes sb ON sb.doc_id = p.b
        |WHERE p.overlap >= 2""".stripMargin,
    "e_quantize_stats" ->
      """WITH ex AS (
        |  SELECT CAST(ord - 1 AS BIGINT) AS dim, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS ord
        |        FROM embeddings)),
        |stats AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1),
        |q AS (
        |  SELECT ex.dim, x, lo, hi,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE CAST(round((x - lo) / (hi - lo) * 255) AS INTEGER) END AS q
        |  FROM ex JOIN stats USING (dim)),
        |d AS (
        |  SELECT dim, q,
        |    CAST(round(abs(x - (lo + q * (hi - lo) / 255)) * 1e6) AS BIGINT) AS err
        |  FROM q)
        |SELECT dim, count(*) AS n,
        |  CAST(sum(err) AS BIGINT) AS sum_abs_err_micro,
        |  min(q) AS qmin, max(q) AS qmax
        |FROM d GROUP BY 1""".stripMargin,
    "d_segment_md5" ->
      s"""WITH RECURSIVE $md5ChunkSegSql
        |SELECT DISTINCT doc_id, sid AS seg_id, 'uniform' AS method, fp AS feature
        |FROM sc WHERE pos % 4 = 0
        |UNION ALL
        |SELECT DISTINCT doc_id, sid, 'random', fp FROM sc WHERE tb % 4 = 0
        |UNION ALL
        |SELECT doc_id, sid, 'random', repeat('0', 40) FROM (
        |  SELECT doc_id, sid FROM sc GROUP BY 1, 2
        |  HAVING sum(CASE WHEN tb % 4 = 0 THEN 1 ELSE 0 END) = 0)
        |UNION ALL
        |SELECT DISTINCT doc_id, sid, 'min', fp FROM (
        |  SELECT doc_id, sid, fp,
        |    row_number() OVER (PARTITION BY doc_id, sid ORDER BY fp, idx) AS rn,
        |    CASE WHEN n <= 4 THEN 1
        |         ELSE n // 4 + CASE WHEN 2 * (n % 4) > 4 THEN 1 ELSE 0 END END AS fn
        |  FROM sc) WHERE rn <= fn
        |UNION ALL
        |SELECT DISTINCT a.doc_id, a.sid, 'optmin', b.fp FROM (
        |  SELECT doc_id, sid, pos,
        |    row_number() OVER (PARTITION BY doc_id, sid ORDER BY fp, idx) AS rn,
        |    CASE WHEN n <= 4 THEN 1
        |         ELSE n // 4 + CASE WHEN 2 * (n % 4) > 4 THEN 1 ELSE 0 END END AS fn
        |  FROM sc) a
        |JOIN sc b ON b.doc_id = a.doc_id AND b.sid = a.sid
        |  AND b.pos = greatest(a.pos - 8, 0)
        |WHERE a.rn <= a.fn""".stripMargin,
    "d_presets_md5" ->
      s"""WITH RECURSIVE $md5ChunkSegSql,
        |fx AS (
        |  SELECT
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, idx // 4 FROM ch)) AS segs,
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, idx // 4, fp FROM ch)) AS dfeat,
        |    (SELECT count(*) FROM d) AS files),
        |sp AS (
        |  SELECT count(*) AS segs,
        |    CAST(sum(CASE WHEN k = 0 THEN 1 ELSE k END) AS BIGINT) AS feats
        |  FROM (SELECT doc_id, sid,
        |          count(DISTINCT CASE WHEN tb % 128 = 0 THEN fp END) AS k
        |        FROM sc GROUP BY 1, 2))
        |SELECT 'ddfs' AS preset, files, segs AS segments, dfeat AS features FROM fx
        |UNION ALL SELECT 'blc', files, segs, dfeat FROM fx
        |UNION ALL SELECT 'sampled', files, segs, segs FROM fx
        |UNION ALL SELECT 'silo', files, segs, segs FROM fx
        |UNION ALL SELECT 'extreme_binning', files, files, files FROM fx
        |UNION ALL SELECT 'sparse', fx.files, sp.segs, sp.feats FROM fx, sp""".stripMargin,
    "d_preset_cand_md5" ->
      s"""WITH RECURSIVE $md5ChunkSegSql,
        |feat AS (
        |  SELECT doc_id, sid, fp FROM (
        |    SELECT DISTINCT doc_id, sid, fp FROM sc WHERE tb % 2 = 0)
        |  UNION ALL
        |  SELECT doc_id, sid, repeat('0', 40) FROM (
        |    SELECT doc_id, sid FROM sc GROUP BY 1, 2
        |    HAVING sum(CASE WHEN tb % 2 = 0 THEN 1 ELSE 0 END) = 0)),
        |docs AS (SELECT doc_id, source AS stream FROM documents WHERE length(text) > 0),
        |nseg AS (SELECT doc_id, max(sid) + 1 AS nsegs FROM sc GROUP BY 1),
        |base AS (
        |  SELECT n.doc_id,
        |    coalesce(sum(n.nsegs) OVER (PARTITION BY d.stream ORDER BY n.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base0
        |  FROM nseg n JOIN docs d USING (doc_id)),
        |segpos AS (
        |  SELECT f.doc_id, d.stream, b.base0 + f.sid AS gpos, f.fp
        |  FROM feat f JOIN docs d USING (doc_id) JOIN base b ON b.doc_id = f.doc_id),
        |idx AS (
        |  SELECT fp AS feature, doc_id AS cf, stream, gpos FROM (
        |    SELECT fp, doc_id, stream, gpos,
        |      row_number() OVER (PARTITION BY fp
        |        ORDER BY doc_id DESC, stream DESC, gpos DESC) AS rn
        |    FROM segpos)
        |  WHERE rn <= 4),
        |hits AS (
        |  SELECT s.doc_id AS qf, i.cf, i.stream, i.gpos
        |  FROM segpos s JOIN idx i ON i.feature = s.fp
        |  WHERE s.doc_id <> i.cf),
        |pre AS (
        |  SELECT h.qf, t.doc_id AS cf
        |  FROM hits h
        |  JOIN (SELECT DISTINCT stream, gpos, doc_id FROM segpos) t
        |    ON t.stream = h.stream AND t.gpos = h.gpos + 1
        |  WHERE h.qf <> t.doc_id)
        |SELECT DISTINCT least(qf, cf) AS a, greatest(qf, cf) AS b
        |FROM (SELECT qf, cf FROM hits UNION ALL SELECT qf, cf FROM pre)""".stripMargin,
    "d_backup_stats" ->
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
        |FROM f""".stripMargin,
    "e_lsh_buckets" ->
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(ord - 1 AS BIGINT) AS i,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS micro
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS ord
        |        FROM embeddings)),
        |coef AS (
        |  SELECT p, i,
        |    CAST((strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1)
        |       - 128 AS BIGINT) AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS p),
        |       (SELECT DISTINCT i FROM ex)),
        |s AS (
        |  SELECT vec_id, label, p, sum(micro * c) AS s
        |  FROM ex JOIN coef USING (i) GROUP BY 1, 2, 3)
        |SELECT vec_id,
        |  CAST(sum(CASE WHEN s > 0 THEN 1 << CAST(p AS INTEGER) ELSE 0 END) AS INTEGER) AS bucket,
        |  label
        |FROM s GROUP BY vec_id, label""".stripMargin,
    "e_ann_topk" -> annBruteSql,
    // full-probe IVF must reproduce brute force exactly (losslessness proof)
    "e_ivf_topk" -> annBruteSql,
    // partial-probe IVF replayed stage by stage (probe-path proof)
    "e_ivf_probe" -> ivfProbeSql,
    // Lloyd-refined IVF fully replayed: integer micro-unit accumulators
    // make all 5 k-means rounds engine-exact
    "e_ivf_kmeans" -> ivfKmeansSql,
    "e_semdedup" -> semDedupSql,
    "e_pq_adc" -> pqAdcSql,
    "r_cbr_rewrite" ->
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
        |FROM u LEFT JOIN fl ON u.stream = fl.stream AND u.seq = fl.seq, t""".stripMargin,
    "e_cosine_dedup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |c AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    list_aggregate(list_transform(list_zip(l.embedding, r.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
        |      / (sqrt(list_aggregate(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |       * sqrt(list_aggregate(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
        |  FROM e l JOIN e r ON l.vec_id <> r.vec_id)
        |SELECT a AS vec_id, b AS nearest, round(cosine, 4) AS cosine_r,
        |  cosine >= 0.95 AS is_dup
        |FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rk FROM c)
        |WHERE rk = 1""".stripMargin,
    "e_norm_stats" ->
      """SELECT label, count(*) AS n,
        |  round(sum(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 3) AS sum_norm2
        |FROM embeddings GROUP BY label""".stripMargin,
    "e_lsh_dedup" -> {
      // replay the banded sign-LSH: 8 bands × 8 sign bits, hub-star on
      // buckets above 64 members, exact cosine + top-1 per vector
      val bandSelects = (0 until 8).map { b =>
        val bucket = (0 until 8)
          .map(i => s"(CASE WHEN embedding[${b * 8 + i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        s"SELECT vec_id, $b AS band, $bucket AS bucket FROM e"
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |bands AS (
        |$bandSelects),
        |sizes AS (SELECT band, bucket, count(*) AS n, min(vec_id) AS hub
        |  FROM bands GROUP BY 1, 2),
        |bs AS (SELECT bands.vec_id, bands.band, bands.bucket, sizes.n, sizes.hub
        |  FROM bands JOIN sizes USING (band, bucket)),
        |pairs AS (SELECT DISTINCT a, b FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM bs x JOIN bs y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id < y.vec_id
        |  WHERE x.n <= 64 AND y.n <= 64
        |  UNION ALL
        |  SELECT hub AS a, vec_id AS b FROM bs WHERE n > 64 AND vec_id <> hub)),
        |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |c AS (SELECT sym.a, sym.b,
        |    list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
        |      / (sqrt(list_aggregate(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |       * sqrt(list_aggregate(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
        |  FROM sym JOIN e ea ON ea.vec_id = sym.a JOIN e eb ON eb.vec_id = sym.b)
        |SELECT a AS vec_id, b AS nearest, round(cosine, 4) AS cosine_r,
        |  cosine >= 0.95 AS is_dup
        |FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rk FROM c)
        |WHERE rk = 1""".stripMargin
    }
  )
}
