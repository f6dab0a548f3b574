package graft.tools

import graft.obs.Measure

/** Scratch: write a small CorpusFile parquet (two overlapping snapshots)
  * for driving the ClusterJob CLI by hand.
  */
object MakeCorpusParquet {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_corpus")
    // Spark's default partition count, which this tool has always run with
    val spark = Measure.session(4, "ERROR",
      Map("spark.sql.shuffle.partitions" -> "200"))
    val all = graft.corpus.CorpusGen.generateLocal(nBases = 30).map(_._1)
      .sortBy(f => (f.repo, f.path, f.commit))
    val n = all.size
    val enc = org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile]
    spark.createDataset(all.slice(0, (n * 7) / 10))(enc)
      .write.mode("overwrite").parquet(s"$out/snap1")
    spark.createDataset(all.slice((n * 3) / 10, n))(enc)
      .write.mode("overwrite").parquet(s"$out/snap2")
    println(s"[corpus] $n files -> $out/snap1, $out/snap2")
    spark.stop()
  }
}
