package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity-based segment selection (the reference's native LSH):
  * J2 feature→segment candidate lookup + J3 greedy top-k champion
  * selection with feature trimming — Sparse Index §3.2 semantics
  * (reference: src/index/similarity_detection.c:49-126).
  */
object SimilaritySelection {

  /** J3 greedy champion selection (pure function, exact port of the
    * sort/trim/re-sort loop, src/index/similarity_detection.c:85-121):
    * candidates ranked by #shared features desc (ties: larger id first);
    * after each pick, the champion's features are removed from the
    * remaining candidates before re-ranking.
    */
  def champions(cands: Seq[(Long, Set[String])], k: Int): Seq[(Long, Int)] = {
    if (cands.isEmpty) return Seq.empty
    val remaining = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[String]]
    cands.foreach { case (id, fs) =>
      remaining(id) = scala.collection.mutable.Set(fs.toSeq: _*)
    }
    val num = math.min(k, cands.size)
    val out = Seq.newBuilder[(Long, Int)]
    var i = 0
    while (i < num) {
      // max by (#features, id) — larger id wins ties, like
      // g_segment_cmp_feature_num (:22-30)
      val (topId, topFs) = remaining.maxBy { case (id, fs) => (fs.size, id) }
      out += ((topId, topFs.size))
      remaining.remove(topId)
      remaining.values.foreach(_ --= topFs)
      i += 1
    }
    out.result()
  }

  /** T6 FIFO feature index: feature → newest-first segment ids, capped at
    * valueLength (reference: src/index/kvstore_htable.c:44-53). Input:
    * (segId, feature, recency) where larger recency = newer.
    *
    * Top-k per feature via a rank window, NOT collect_list+slice: a hot
    * feature shared by millions of segments would materialize the whole
    * group as one in-memory array before slicing; the window sort spills
    * to disk and Spark's WindowGroupLimit pushes the k-cut ahead of the
    * full sort.
    */
  def buildFeatureIndex(segFeatures: DataFrame, valueLength: Int = 1): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("feature"))
      .orderBy(col("recency").desc, col("segId").desc)
    segFeatures
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= valueLength)
      .select(col("feature"), col("segId").as("candId"))
  }

  /** J2 + J3 as a Spark job: join query-segment features against the
    * feature index, then per-segment greedy champion selection.
    * Self-matches are excluded. One shuffle for the join, one for the
    * per-segment fold (candidate sets are bounded by
    * |features| × valueLength — segment feature counts are small by
    * construction, ≤ segmentMax/samplingRatio).
    */
  def topKChampions(segFeatures: DataFrame, index: DataFrame, k: Int): DataFrame = {
    val spark = segFeatures.sparkSession
    import spark.implicits._
    segFeatures
      .join(index, Seq("feature"))
      .filter(col("segId") =!= col("candId"))
      .select(col("segId"), col("candId"), col("feature"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (segId: Long, it: Iterator[(Long, Long, String)]) =>
        val byCand = scala.collection.mutable.Map.empty[Long, Set[String]]
        it.foreach { case (_, cand, f) =>
          byCand(cand) = byCand.getOrElse(cand, Set.empty) + f
        }
        champions(byCand.toSeq, k).iterator.zipWithIndex.map {
          case ((cand, shared), rank) => (segId, cand, rank + 1, shared)
        }
      }
      .toDF("segId", "candId", "rank", "sharedAtPick")
  }

  /** Plain shared-feature top-k WITHOUT trimming (the reference's
    * selection when greedy re-ranking is disabled; SQL-expressible).
    *
    * Uses the native bounded-heap [[graft.functions.TopKBy]] aggregate
    * instead of a `row_number` window: the per-seg top-k partially
    * aggregates map-side (each partition forwards ≤k candidates per
    * seg), so a hot segment with 10^6 candidates never funnels a full
    * per-group sort through one WindowExec task. Tie order is
    * (shared DESC, candId DESC) — the FIFO-newest rule — hence the id
    * negation through the heap.
    */
  def topKPlain(segFeatures: DataFrame, index: DataFrame, k: Int): DataFrame = {
    segFeatures
      .join(index, Seq("feature"))
      .filter(col("segId") =!= col("candId"))
      .groupBy(col("segId"), col("candId"))
      .agg(countDistinct(col("feature")).as("shared"))
      .groupBy(col("segId"))
      .agg(graft.functions.TopKBy(col("shared"), -col("candId"), k).as("topk"))
      .select(col("segId"), posexplode(col("topk")))
      .select(col("segId"), (-col("col.id")).as("candId"),
        (col("pos") + 1).cast("long").as("rank"), col("col.score").as("shared"))
  }
}
