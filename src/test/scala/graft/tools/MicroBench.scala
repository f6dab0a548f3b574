package graft.tools

import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusGen
import graft.pipeline._

/** Isolate scaling of generation vs featurize.
  * Run: sbt "Test/runMain graft.tools.MicroBench [nBases] [cores]"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val nBases = args.headOption.map(_.toLong).getOrElse(100000L)
    val cores = args.lift(1).getOrElse("8")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val cfg = DedupConfig()

    def time[T](name: String)(f: => T): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[micro] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    val files = CorpusGen.generate(spark, nBases)
    time("gen_only (sum len)") {
      files.map(_.content.length.toLong).reduce(_ + _)
    }
    time("gen_only again") {
      files.map(_.content.length.toLong).reduce(_ + _)
    }
    time("gen+featurize nopersist") {
      DedupPipeline.featurize(files, cfg).map(_.size.toLong).reduce(_ + _)
    }
    time("gen+chunksonly") {
      files.mapPartitions { it =>
        it.map { f =>
          val bytes = f.content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bounds = graft.chunking.Chunkers.boundaries(bytes, cfg.chunker)
          bounds.length.toLong
        }
      }.reduce(_ + _)
    }
    time("gen+shingles") {
      files.map { f =>
        val bytes = f.content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Shingles.shingleHashes(bytes, cfg.shingle).length.toLong
      }.reduce(_ + _)
    }
    time("gen+shingles+minhash") {
      files.map { f =>
        val bytes = f.content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sh = Shingles.shingleHashes(bytes, cfg.shingle)
        Shingles.minhash(sh, cfg.shingle.minhashK).length.toLong
      }.reduce(_ + _)
    }
    spark.stop()
  }
}
