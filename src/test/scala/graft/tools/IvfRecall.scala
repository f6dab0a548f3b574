package graft.tools
import org.apache.spark.sql.functions._
import graft.obs.Measure
import graft.operators.Similarity
object IvfRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Measure.session(8, "ERROR")
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val brute = graft.Queries.all("e_ann_topk")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    def recallOf(cents: Array[(Long, Array[Float])], nProbe: Int): Double = {
      val assigned = Similarity.assign(emb, cents).persist()
      val bc = spark.sparkContext.broadcast(cents)
      val queries = assigned.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"))
        .as[(Long, Array[Float])]
        .flatMap { case (qid, q) =>
          val c = bc.value
          c.indices.map(i => (i, Similarity.cosine(q, c(i)._2)))
            .sortBy(x => (-x._2, x._1)).take(nProbe)
            .iterator.map { case (listId, _) => (qid, q, listId) }
        }.toDF("query_id", "q", "listId")
      val cosUdf = udf((a: Seq[Float], b: Seq[Float]) => Similarity.cosine(a.toArray, b.toArray))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      val ivf = queries
        .join(assigned.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"), col("listId")), Seq("listId"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", cosUdf(col("q"), col("v")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      assigned.unpersist()
      brute.map { case (q, t) => ivf.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size }.sum / brute.size
    }
    for (iters <- Seq(0, 1, 2, 5, 10); nProbe <- Seq(2, 4)) {
      val c = if (iters == 0) Similarity.centroids(emb, 16) else Similarity.kmeansCentroids(emb, 16, iters)
      println(f"[ivf] iters=$iters nProbe=$nProbe recall=${recallOf(c, nProbe)}%.3f")
    }
    spark.stop()
  }
}
