package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Connected components (SURVEY.md §7.1 stage 7): a driver-side
  * union-find for small edge sets, min-label propagation with pointer
  * jumping above [[LocalEdgeCap]].
  *
  * Scale design:
  *  - one bounded collect chooses the path: `edges.limit(cap + 1)` runs as
  *    ONE Spark job (each map task keeps ≤ cap + 1 edges, one reduce task
  *    packs the first cap + 1 into a single `Array[Long]`) plus whatever
  *    shuffle stages the edge plan itself holds. No counting job. At most
  *    cap edges ⇒ the local path; more ⇒ the collected prefix is dropped
  *    and the distributed path runs. Above the cap an uncached edge plan
  *    is therefore computed twice (once up to the cap), the price of not
  *    counting it.
  *  - local path: one iterative [[UnionFind]] labels the edge vertices on
  *    the driver; the labels become a local relation.
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

  /** Edge count up to which [[run]] labels on the driver.
    *
    * Measured on a 4-core host in a `local[4]` session (4 shuffle
    * partitions, adaptive execution on, as perfbench runs), on a path
    * 0 - 1 - … - n and on a hub graph (n leaves over 4 hubs), edges
    * checkpointed in 4 partitions; each figure is `run(...).count()`:
    *  - distributed cost per round: 0.3–0.5 s at 10^4 edges, 0.8–0.9 s at
    *    10^5, 2.5–2.9 s at 10^6 (7–10 jobs a round). The hub graph
    *    settles in the 2 rounds the fixpoint test needs: 0.9–1.3 s up to
    *    10^5 edges, 2.4 s at 2·10^5, 2.6 s at 3·10^5, 4.3 s at 5·10^5,
    *    6.6 s at 10^6. The path needs log-diameter rounds: 9.5 s at 10^4
    *    edges, 19–23 s at 10^5–2·10^5, 44 s at 5·10^5, 106 s at 10^6.
    *  - local path: 0.3–0.4 s up to 10^4 edges, 1.0–1.6 s at 10^5, 2.0–2.3
    *    s at 2·10^5, 2.7–2.9 s at 3·10^5, 4.5–5.3 s at 5·10^5, 10–12 s at
    *    10^6, in 4 jobs with the count. Of that, the union-find takes
    *    0.25–0.5 µs per edge and the local relation 2 µs per label.
    *  - driver bytes: 14–16 per collected edge (two packed longs, also the
    *    task result), then ≈ 145 per labeled vertex (56 union-find entry
    *    and label pair, 88 local-relation row) — ≤ 300 B per edge when
    *    every edge brings two new vertices.
    * The local path is 8–13× faster on the path at every size; on the hub
    * graph the two tie between 2·10^5 (2.25 vs 2.37 s) and 3·10^5 (2.66
    * vs 2.60 s) edges. The cap is that crossover, 2.5·10^5: no measured
    * shape is slower on the driver below it, and it holds the driver at
    * ≤ 80 MB, 8% of spark-submit's default 1 GiB `spark.driver.memory`,
    * with a task result of ≤ 4 MB against the default 1 GiB
    * `spark.driver.maxResultSize`.
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

    /** (id, root) for every id passed to `union`. */
    def labels: Array[(Long, Long)] = parent.keys.toArray.map(v => (v, find(v)))
  }

  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25,
      localEdgeCap: Int = LocalEdgeCap): DataFrame = {
    require(localEdgeCap >= 0 && localEdgeCap < Int.MaxValue,
      s"localEdgeCap $localEdgeCap outside [0, Int.MaxValue)")
    val spark = vertices.sparkSession
    import spark.implicits._

    // (a0, b0, a1, b1, …) of the first cap + 1 edges, one packed array.
    // A root limit's RDD is Spark's CollectLimit shuffle into one
    // partition: one job, where collect() would scan partitions in
    // growing batches, one job per batch.
    val packed = edges.select(col("a").cast("long"), col("b").cast("long"))
      .limit(localEdgeCap + 1).queryExecution.toRdd
      .mapPartitions { rows =>
        val buf = Array.newBuilder[Long]
        rows.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }
      .collect().flatten
    val labels =
      if (packed.length / 2 <= localEdgeCap) {
        val uf = new UnionFind
        var i = 0
        while (i < packed.length) { uf.union(packed(i), packed(i + 1)); i += 2 }
        uf.labels.toSeq.toDF("fileId", "clusterId")
      } else propagate(edges, maxIter).toDF("fileId", "clusterId")

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
