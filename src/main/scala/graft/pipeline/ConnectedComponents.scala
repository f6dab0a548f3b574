package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Connected components (SURVEY.md §7.1 stage 7): a driver-side
  * union-find for small edge sets, min-label propagation with pointer
  * jumping above [[LocalEdgeCap]].
  *
  * Scale design:
  *  - one [[DriverFold.collect]] of the edges chooses the path in ONE
  *    Spark job plus the edge plan's own stages; above the cap an
  *    uncached edge plan is thus computed twice (once up to the cap).
  *  - local path: one iterative [[UnionFind]] labels the edge vertices on
  *    the driver, handed back as a [[DriverFold.table]].
  *  - distributed path: iteration runs over *edge vertices only*; each
  *    round does (a) one hop of neighbor-min propagation and (b) one
  *    pointer-jump (label ← label's label), so the label frontier doubles
  *    per round and rounds scale with log(diameter), not diameter — a long
  *    near-dup version chain of length 10^6 whose ids rise along it
  *    converges in ~20 rounds (ids in random order along a path defeat
  *    the jump: a 300-vertex one exceeds 25 rounds);
  *  - labels only ever decrease, so Σlabel (exact decimal sum — 64-bit ids
  *    overflow Long) is strictly decreasing until fixpoint; the sum is an
  *    aggregation on the round's checkpointed labels, NOT an accumulator
  *    in a transformation (task retries / speculative execution would
  *    double-count an accumulator and distort the fixpoint test);
  *  - localCheckpoint truncates lineage (the classic iterative-join
  *    pitfall);
  *  - a fixpoint not reached within maxIter rounds fails the call with an
  *    IllegalStateException naming the round count: the labels would
  *    split components, so none are returned;
  *  - on both paths singleton files never enter the labeling and are
  *    appended with their own id by one anti-join against `vertices`.
  *
  * Input: vertices(fileId), edges(a,b), non-null ids. Output: (fileId,
  * clusterId) where clusterId = min fileId of the component; singletons
  * keep their own id; edge vertices absent from `vertices` are labeled
  * too. Both paths return the same rows.
  */
object ConnectedComponents {

  /** Edge count up to which [[run]] labels on the driver, within
    * [[DriverFold]]'s budget: at most 272 B an edge (Spark's
    * SizeEstimator: 16 a collected edge, 128 a labeled vertex).
    *
    * Measured on a 4-core host, `local[4]`, 4 shuffle partitions,
    * adaptive execution on, on a path 0 - 1 - … - n and a hub graph (n
    * leaves over 4 hubs), edges checkpointed in 4 partitions; each figure
    * is `run(...).count()`. Distributed, 7–10 jobs a round: the hub graph
    * settles in 2 rounds, 0.9–1.3 s up to 10^5 edges, 2.4 s at 2·10^5,
    * 2.6 s at 3·10^5, 6.6 s at 10^6; the path needs log-diameter rounds,
    * 9.5 s at 10^4 edges, 19–23 s at 10^5–2·10^5, 106 s at 10^6. On the
    * driver, 4 jobs with the count: 0.3–0.4 s up to 10^4 edges, 1.0–1.6 s
    * at 10^5, 2.0–2.3 s at 2·10^5, 2.7–2.9 s at 3·10^5, 10–12 s at 10^6.
    * So a path labels 8–13× faster on the driver at every size; the hub
    * graph ties between 2·10^5 (2.25 vs 2.37 s) and 3·10^5 (2.66 vs 2.60
    * s) edges: the cap is that crossover. With the columnar collect and
    * hand-off, hub-graph medians of 6 before → after: 0.98 → 1.01 s at
    * 10^5 edges, 1.77 → 1.80 s at 2·10^5 (spreads 0.17, 0.26 s).
    */
  val LocalEdgeCap: Int = 250000

  /** Union-find over Long ids whose root is always the minimum id of its
    * set: `union` links the larger root under the smaller, and `find`
    * halves paths iteratively, so a long chain needs no deep stack.
    * Ids never passed to `union` are their own root.
    */
  final class UnionFind {
    private val parent = new scala.collection.mutable.LongMap[Long]

    def find(x: Long): Long = {
      var v = x
      var p = parent.getOrElse(v, v)
      while (p != v) {
        val g = parent.getOrElse(p, p)
        if (g != p) parent.update(v, g)
        v = g
        p = parent.getOrElse(v, v)
      }
      v
    }

    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
    }

    /** Every id passed to `union`. */
    def ids: Array[Long] = parent.keys.toArray

    /** (id, root) for every id passed to `union`. */
    def labels: Array[(Long, Long)] = ids.map(v => (v, find(v)))
  }

  def run(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame =
    run(vertices, edges, maxIter, LocalEdgeCap)

  /** [[run]] with the edge count up to which the driver labels the graph;
    * `localEdgeCap = 0` forces propagation. */
  private[pipeline] def run(vertices: DataFrame, edges: DataFrame,
      maxIter: Int, localEdgeCap: Int): DataFrame = {
    val labels = DriverFold.collect(edges.select(col("a").cast("long"),
        col("b").cast("long")), localEdgeCap) match {
      case Some(e) =>
        val uf = new UnionFind
        (0 until e.rows).foreach(i => uf.union(e.longs(0)(i), e.longs(1)(i)))
        val ids = uf.ids
        DriverFold.table(vertices.sparkSession, "fileId BIGINT, " +
          "clusterId BIGINT", ids.length)(i => Array(ids(i), uf.find(ids(i))))
      case None => propagate(edges, maxIter).toDF("fileId", "clusterId")
    }
    val singletons = vertices
      .join(labels, Seq("fileId"), "left_anti")
      .select(col("fileId"), col("fileId").as("clusterId"))
    labels.union(singletons)
  }

  /** (fileId, label) of every edge vertex by min-label propagation. */
  private def propagate(edges: DataFrame, maxIter: Int): Dataset[(Long, Long)] = {
    val spark = edges.sparkSession
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
    labels
  }
}
