package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline._
import QuerySupport._

/** TPC-H-ish relational operator inventory (SURVEY.md §2.2-2.6) over the
  * lineitem/orders/events tables, plus the batch replay of the streaming
  * windowed-throughput path.
  */
object RelationalQueries {

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

  // Rewrite / restore analytics over a lineitem-derived recipe
  // (stream=l_suppkey, containerId=l_partkey%50, dup=(l_partkey%3)!=0)

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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_agg", q1Agg, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),
    QueryDef("q_first_writer", qFirstWriter, Some(
      """SELECT l_partkey, first_orderkey, first_linenumber FROM (
        |  SELECT l_partkey, l_orderkey AS first_orderkey, l_linenumber AS first_linenumber,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_suppkey) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin)),
    QueryDef("q_topk_per_group", qTopkPerGroup, Some(
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin)),
    QueryDef("q_topk_agg", qTopkAgg, Some(
      """SELECT o_custkey, o_orderkey, rk, cents FROM (
        |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin)),
    QueryDef("q_session_runs", qSessionRuns, Some(
      """SELECT user_id, CAST(sum(isNew) AS BIGINT) AS n_runs, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS isNew
        |  FROM events) GROUP BY user_id""".stripMargin)),
    QueryDef("q_cum_packing", qCumPacking, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey, cum_qty,
        |  CAST(floor((cum_qty - 1) / 500) AS BIGINT) AS bin FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qty
        |  FROM lineitem)""".stripMargin)),
    QueryDef("q_broadcast_join", qBroadcastJoin, Some(
      """SELECT n_name, count(*) AS order_count,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin)),
    QueryDef("q_anti_join", qAntiJoin, Some(
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin)),
    QueryDef("q_semi_join", qSemiJoin, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin)),
    QueryDef("q_distinct_agg", qDistinctAgg, Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin)),
    QueryDef("q_histogram", qHistogram, Some(
      """SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin)),
    QueryDef("q_lru_stack", qLruStack, Some(
      """SELECT user_id, event_type, count(gap) AS reaccesses,
        |  CAST(sum(CASE WHEN gap <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS hits_within_8
        |FROM (
        |  SELECT user_id, event_type,
        |    seq - lag(seq) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
        |  FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
        |    FROM events))
        |GROUP BY user_id, event_type""".stripMargin)),
    QueryDef("q_next_access", qNextAccess, Some(
      """SELECT event_type, count(reuse_us) AS n_reuses,
        |  CAST(sum(CASE WHEN reuse_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS reuse_within_1h
        |FROM (
        |  SELECT event_type,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id))
        |      - epoch_us(ts) AS reuse_us
        |  FROM events)
        |GROUP BY event_type""".stripMargin)),
    QueryDef("q_min_sample", qMinSample, Some(
      """SELECT l_orderkey,
        |  min(md5(CAST(l_partkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || CAST(l_orderkey AS VARCHAR))) AS min_feature,
        |  count(*) AS n_chunks
        |FROM lineitem GROUP BY l_orderkey""".stripMargin)),
    QueryDef("q_uniform_sample", qUniformSample, Some(
      """SELECT l_orderkey, min(digest) AS min_uniform_feature, count(*) AS n_sampled
        |FROM (
        |  SELECT l_orderkey,
        |    md5(CAST(l_partkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || CAST(l_orderkey AS VARCHAR)) AS digest,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM lineitem)
        |WHERE (rn - 1) % 4 = 0 GROUP BY 1""".stripMargin)),
    QueryDef("q_optmin_sample", qOptminSample, Some(
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
        |WHERE pick = 1""".stripMargin)),
    QueryDef("q_random_sample", qRandomSample, Some(
      """SELECT l_returnflag, count(*) AS sampled,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sampled_cents
        |FROM lineitem WHERE l_partkey % 32 = 0 GROUP BY 1""".stripMargin)),
    QueryDef("q_segment_bounds", qSegmentBounds, Some(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(sum(CASE WHEN l_partkey % 64 = 0 THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segId
        |FROM lineitem""".stripMargin)),
    QueryDef("q_quantile", qQuantile, Some(
      """SELECT max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN c END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN c END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN c END) AS p99
        |FROM (
        |  SELECT c, CAST(row_number() OVER (ORDER BY c) AS BIGINT) AS rn,
        |    count(*) OVER () AS n
        |  FROM (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders))""".stripMargin)),
    QueryDef("s_windowed_throughput", sWindowedThroughput, Some(
      """SELECT epoch_us(time_bucket(INTERVAL 1 minute, ts)) AS window_start_us,
        |  count(*) AS events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY 1""".stripMargin))
  )
}
