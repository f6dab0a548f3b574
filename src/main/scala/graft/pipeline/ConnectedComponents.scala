package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Iterative connected components by min-label propagation with pointer
  * jumping (SURVEY.md §7.1 stage 7).
  *
  * Scale design:
  *  - iteration runs over *edge vertices only*; singleton files never
  *    enter the loop and are appended with their own id at the end;
  *  - each round does (a) one hop of neighbor-min propagation and (b) one
  *    pointer-jump (label ← label's label), so the label frontier doubles
  *    per round and rounds scale with log(diameter), not diameter — a long
  *    near-dup version chain of length 10^6 converges in ~20 rounds;
  *  - labels only ever decrease, so Σlabel (exact decimal sum — 64-bit ids
  *    overflow Long) is strictly decreasing until fixpoint; the sum is an
  *    aggregation on the round's checkpointed labels, NOT an accumulator
  *    in a transformation (task retries / speculative execution would
  *    double-count an accumulator and distort the fixpoint test);
  *  - localCheckpoint truncates lineage (the classic iterative-join
  *    pitfall);
  *  - a fixpoint not reached within maxIter rounds fails the call with an
  *    IllegalStateException naming the round count: the labels would
  *    split components, so none are returned.
  *
  * Input: vertices(fileId), edges(a,b). Output: (fileId, clusterId) where
  * clusterId = min fileId of the component; singletons keep their own id.
  */
object ConnectedComponents {

  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._

    // cache pre-partitioned by the per-round join key: rounds shuffle only
    // the (small) labels side, never the edge table. ONE exchange (r6):
    // hash-partitioning by src colocates every (src, dst) duplicate, so
    // the dedup aggregate runs where the repartition lands the rows —
    // the former distinct() paid its own full exchange first.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .persist()

    // round 0 fused into initialization: label = min(self, direct nbrs)
    // LAZY localCheckpoint (r6): labelSum is always the first action on a
    // round's labels and scans them exactly once, so block
    // materialization and the fixpoint sum share ONE job per round
    var labels: Dataset[(Long, Long)] = sym
      .groupBy(col("src").as("fileId"))
      .agg(min(col("dst")).as("nbrMin"))
      .select(col("fileId"), least(col("fileId"), col("nbrMin")).as("label"))
      .as[(Long, Long)]
      .localCheckpoint(eager = false)

    def labelSum(ds: Dataset[(Long, Long)]): java.math.BigDecimal = {
      val d = ds.toDF("fileId", "label")
        .agg(sum(col("label").cast("decimal(38,0)")))
        .head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d // empty edge set
    }

    // seed the fixpoint test with the init sum: graphs already settled by
    // the fused init round (pure star edges — the common near-dup shape)
    // are detected after ONE propagation round instead of two
    var prevSum: Option[java.math.BigDecimal] = Some(labelSum(labels))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val incoming = sym
        .join(labels.toDF("src", "label"), Seq("src"))
        .groupBy(col("dst").as("fileId"))
        .agg(min(col("label")).as("nbrMin"))
      val stepped = labels.toDF("fileId", "label")
        .join(incoming, Seq("fileId"), "left")
        .select(col("fileId"),
          least(col("label"), coalesce(col("nbrMin"), col("label"))).as("label"))
      // Pointer jump: adopt the label of my current label (every label is
      // itself an edge-vertex id, so the self-join always matches).
      // Adaptive: near-dup clusters are dense (star edges + near-cliques)
      // and converge by round 2, so the first rounds skip the extra
      // self-join shuffle; if we're still iterating by round 3 a deep
      // chain exists and doubling takes over (log-diameter rounds).
      val jumped =
        if (iter < 2) stepped
        else {
          val parents = stepped.select(col("fileId").as("label"), col("label").as("plabel"))
          stepped
            .join(parents, Seq("label"), "left")
            .select(col("fileId"),
              least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        }
      labels = jumped
        .as[(Long, Long)]
        .localCheckpoint(eager = false) // materialized by labelSum below
      val s = labelSum(labels)
      converged = prevSum.exists(_.compareTo(s) == 0)
      prevSum = Some(s)
      iter += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connected components not converged after $iter rounds; the " +
        "labels would split components — raise ccMaxIter")

    val labelsDf = labels.toDF("fileId", "clusterId")
    val singletons = vertices
      .join(labelsDf, Seq("fileId"), "left_anti")
      .select(col("fileId"), col("fileId").as("clusterId"))
    labelsDf.union(singletons)
  }
}
