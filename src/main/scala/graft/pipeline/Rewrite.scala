package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Rewrite-algorithm analytics (the reference's fragmentation detectors),
  * re-expressed as window/aggregation queries over the recipe table.
  *
  * Input contract for all functions: a DataFrame with columns
  *   stream:string, seq:long (position within stream), size:int,
  *   containerId:long, dup:boolean
  * — i.e. the chunk sequence of a backup run in stream order with its
  * duplicate marking and owning container (reference: the dedup_queue
  * records flowing into the rewrite phase, src/rewrite_phase.c).
  *
  * Deviations from the sequential reference, by design:
  *  - CBR's adaptive threshold (a running 10k-bucket histogram,
  *    src/cbr_rewrite.c:38-55) becomes a global discrete quantile over a
  *    1e-6-grid utility histogram — the batch analog of "keep rewrite
  *    ratio ≤ limit" (neighbor propagation itself IS implemented, see
  *    [[cbr]]);
  *  - streams (repos) are processed independently — destor's stream is
  *    one backup job, ours is one repo partition.
  */
object Rewrite {

  val ContainerPayload: Long = (4L * 1024 * 1024) - (32 * 1024)

  /** W4/T2 CAP capping (reference: src/cap_rewrite.c:10-107): tumbling
    * 1024-chunk buffers per stream; rank containers by referenced bytes
    * desc; duplicate chunks of containers ranked below cappingLevel are
    * OUT_OF_ORDER.
    */
  def cap(recipe: DataFrame, bufferSize: Int = 1024,
      cappingLevel: Int = 14): DataFrame = {
    val withBuf = recipe.withColumn("bufferId", floor(col("seq") / bufferSize))
    val contBytes = withBuf
      .filter(col("dup")) // uniques carry TEMPORARY_ID in the reference
      .groupBy(col("stream"), col("bufferId"), col("containerId"))
      .agg(sum(col("size")).as("refBytes"))
    val w = Window.partitionBy(col("stream"), col("bufferId"))
      .orderBy(col("refBytes").desc, col("containerId"))
    val ranked = contBytes.withColumn("rk", row_number().over(w))
    withBuf.join(
        ranked.select(col("stream"), col("bufferId"), col("containerId"),
          (col("rk") <= cappingLevel).as("inTop")),
        Seq("stream", "bufferId", "containerId"), "left")
      .withColumn("outOfOrder", col("dup") && !coalesce(col("inTop"), lit(false)))
      .drop("inTop")
  }

  /** W3/A7 CBR context-based rewriting (reference: src/cbr_rewrite.c):
    * utility of a duplicate = 1 − (container bytes in the following
    * `bufferSize`-chunk context + own size)/payload (0 when coverage ≥ 1);
    * rewrite iff utility ≥ max(minUtility, the (1−limit) utility
    * percentile of the run) AND no marked-not-fragmented neighbor.
    *
    * Marked-not-fragmented neighbor propagation
    * (src/cbr_rewrite.c:118-131 + rewrite_phase.c:41-63): once a
    * duplicate of container X is decided not-fragmented, X's buffered
    * containerRecord flips to in-order and every later X-duplicate sharing
    * the buffer inherits the decision. Batch analog: X-duplicates whose
    * consecutive occurrences are ≤ bufferSize apart form one record run;
    * within a run, any earlier duplicate below the threshold suppresses
    * all later rewrites.
    */
  def cbr(recipe: DataFrame, bufferSize: Int = 1024, limit: Double = 0.05,
      minUtility: Double = 0.5,
      payload: Long = ContainerPayload): DataFrame = {
    val wCtx = Window.partitionBy(col("stream"), col("containerId"))
      .orderBy(col("seq"))
      .rangeBetween(0, bufferSize)
    // per-stream max is a map-side-combinable groupBy + join, NOT an
    // unframed per-stream window (which sort-funnels the whole stream
    // through one WindowExec task); the aggregate is one row per stream
    val maxSeqs = recipe.groupBy(col("stream"))
      .agg(max(col("seq")).as("maxSeq"))
    val withUtil = recipe
      .withColumn("ctxBytes", sum(col("size")).over(wCtx))
      .join(maxSeqs, Seq("stream"))
      .withColumn("coverage", col("ctxBytes") / lit(payload.toDouble))
      .withColumn("utility",
        when(!col("dup"), lit(0.0))
          .otherwise(when(col("coverage") >= 1, 0.0)
            .otherwise(round(lit(1.0) - col("coverage"), 6))))
      .persist()
    val threshold = cbrThreshold(withUtil.select(col("utility")), limit)
    val tEff = math.max(minUtility, threshold)
    // neighbor propagation: record runs of each container's duplicates
    // (gap ≤ bufferSize keeps the containerRecord buffered), then the
    // earliest below-threshold decision in a run suppresses later rewrites
    val wC = Window.partitionBy(col("stream"), col("containerId")).orderBy(col("seq"))
    val flagged = withUtil.filter(col("dup"))
      .select(col("stream"), col("containerId"), col("seq"), col("utility"))
      .withColumn("newRun",
        when(col("seq") - lag(col("seq"), 1).over(wC) <= bufferSize, 0L).otherwise(1L))
      .withColumn("recRun",
        sum(col("newRun")).over(wC.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("inheritNotFrag",
        coalesce(
          max(when(col("utility") < tEff, 1).otherwise(0)).over(
            Window.partitionBy(col("stream"), col("containerId"), col("recRun"))
              .orderBy(col("seq"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0)) === 1)
      .select(col("stream"), col("seq"), col("inheritNotFrag"))
    // chunks inside the final buffer are flushed without a rewrite
    // decision (reference: src/cbr_rewrite.c:144-146)
    val out = withUtil
      .join(flagged, Seq("stream", "seq"), "left")
      .withColumn("outOfOrder",
        col("dup") && col("utility") >= tEff &&
          !coalesce(col("inheritNotFrag"), lit(false)) &&
          col("seq") + bufferSize <= col("maxSeq"))
      .drop("ctxBytes", "coverage", "maxSeq", "inheritNotFrag")
      .localCheckpoint(true)
    withUtil.unpersist()
    out
  }

  /** CBR's discrete (1−limit)-quantile over the run's utilities — the
    * batch analog of the reference's 10k-bucket running histogram
    * (src/cbr_rewrite.c:38-55): the smallest utility whose cumulative
    * count reaches ceil((1−limit)·n), and 0.0 when there are no rows. No
    * interpolation, so the threshold is engine-independent. Utilities are
    * rounded to 1e-6 in [0, 1], so ONE aggregate query sends the driver at
    * most 1,000,001 (utility, count) histogram rows whatever the input
    * size — never the utility rows — and the cumulative scan runs there.
    */
  private[pipeline] def cbrThreshold(utilities: DataFrame,
      limit: Double): Double = {
    val hist = utilities.groupBy(col("utility")).agg(count(lit(1)))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    val n = hist.iterator.map(_._2).sum
    val k = math.ceil((1.0 - limit) * n).toLong
    var cum = 0L
    hist.find { case (_, c) => cum += c; cum >= k }.map(_._1).getOrElse(0.0)
  }

  /** W2 CFL-style selective dedup runs (reference: src/cfl_rewrite.c):
    * consecutive same-container duplicates form a run; a run whose total
    * bytes are below usageThreshold × payload is rewritten whole.
    *
    * Run detection (the lag + running sum the reference folds
    * sequentially) is TWO-PHASE DISTRIBUTED via
    * [[DedupPipeline.streamRuns]] — never a per-stream window: one backup
    * stream with 10^9 chunks would funnel its whole sort through a single
    * WindowExec task at 100× scale.
    */
  def cflRuns(recipe: DataFrame, usageThreshold: Double = 0.03,
      payload: Long = ContainerPayload): DataFrame = {
    val withRun = DedupPipeline.streamRuns(recipe,
      "stream", Seq("seq"), "containerId", "newRun", "runId")
    val runBytes = withRun.groupBy(col("stream"), col("runId"))
      .agg(sum(col("size")).as("runBytes"))
    withRun.join(runBytes, Seq("stream", "runId"))
      .withColumn("outOfOrder",
        col("dup") && col("runBytes") < usageThreshold * payload)
      .drop("newRun")
  }

  /** A5/W5 HAR (reference: src/har_rewrite.c): per-container utilization
    * this run; containers below the threshold are sparse; the sparse list
    * is trimmed (smallest-utilization kept) so Σsparse/Σtotal ≤ limit.
    * Returns the sparse-container table for the *next* run (J7).
    */
  def harSparseContainers(recipe: DataFrame,
      utilizationThreshold: Double = 0.5,
      rewriteLimit: Double = 0.05,
      payload: Long = ContainerPayload): DataFrame = {
    // Keep the ascending-size prefix with cumulative bytes ≤ limit × total
    // (equivalent to the reference's trim-largest loop,
    // src/har_rewrite.c:166-177). Sparseness is monotone in refBytes, so
    // over ALL containers in (refBytes, containerId) order the sparse ones
    // come first and each one's running prefix is its sparse-list prefix.
    // The two-phase distributed prefix sum ([[DedupPipeline
    // .streamPrefixTotal]], one synthetic stream) returns the total bytes
    // from the same counts job — never a global unpartitioned window: at
    // 100 TB ≈ 25M containers a single-partition WindowExec would funnel
    // everything through one task. The result is lazy over the
    // checkpointed sort; the caller materializes it.
    val util = recipe.groupBy(col("containerId"))
      .agg(sum(col("size")).as("refBytes"))
      .withColumn("s", lit("h"))
    val (prefixed, total) = DedupPipeline.streamPrefixTotal(util, "s",
      Seq("refBytes", "containerId"), "refBytes", "pre")
    val cap = (rewriteLimit * total).toLong
    prefixed
      .withColumn("utilization", col("refBytes") / lit(payload.toDouble))
      .filter(col("utilization") < utilizationThreshold &&
        col("pre") + col("refBytes") <= cap)
      .select(col("containerId"), col("refBytes"), col("utilization"))
  }

  /** J7 inherited-sparse marking (reference: src/har_rewrite.c:197-207):
    * duplicates in last run's sparse containers are CHUNK_SPARSE.
    */
  def harMark(recipe: DataFrame, prevSparse: DataFrame): DataFrame = {
    recipe.join(
        broadcast(prevSparse.select(col("containerId"), lit(true).as("inSparse"))),
        Seq("containerId"), "left")
      .withColumn("sparse", col("dup") && coalesce(col("inSparse"), lit(false)))
      .drop("inSparse")
  }

  /** A5 container-utilization decile histogram (reference:
    * src/har_rewrite.c:119-156): bucket 0 = unused, 1..10 = deciles,
    * 11 = over-full.
    */
  def utilizationHistogram(recipe: DataFrame): DataFrame = {
    recipe.groupBy(col("containerId"))
      .agg(sum(col("size")).as("refBytes"))
      .withColumn("utilization", col("refBytes") / lit(ContainerPayload.toDouble))
      .withColumn("bucket",
        when(col("utilization") === 0, 0)
          .when(col("utilization") > 1, 11)
          .otherwise((col("utilization") * 10 + 1).cast("int")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("containers"), sum(col("refBytes")).as("bytes"))
  }

  /** P14 final write predicate (reference: src/filter_phase.c:125-134):
    * write iff unique ∨ (¬denied ∧ (sparse ∨ (outOfOrder ∧ ¬inCache))).
    * We model denied/inCache as absent (cache-aware filter off, the
    * shipped default destor.config:124).
    */
  def writePredicate(marked: DataFrame): DataFrame = {
    val sparse =
      if (marked.columns.contains("sparse")) col("sparse") else lit(false)
    val ooo =
      if (marked.columns.contains("outOfOrder")) col("outOfOrder") else lit(false)
    marked.withColumn("write", !col("dup") || sparse || ooo)
  }
}
