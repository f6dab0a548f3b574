package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.chunking.Chunkers
import graft.corpus.{CorpusFile, CorpusGen}
import graft.pipeline.{DedupConfig, DedupPipeline, Shingles}

/** Single-thread kernel rates over a fixed byte sample generated from the
  * seed: the featurize kernels without Spark around them. Each kernel is
  * run until the JIT has warmed, then timed over whole passes. */
object Kernels {
  private val WarmNs = 300L * 1000 * 1000
  private val TimedNs = 500L * 1000 * 1000
  /** kernel results land here, so the JIT cannot drop the work */
  @volatile private var blackhole = 0L

  /** Work units per second over whole passes of `pass` (which returns the
    * units it did), after a warm-up. */
  private def rate(pass: () => Long): Double = {
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmNs) pass()
    var units = 0L
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < TimedNs) { units += pass(); t = System.nanoTime() }
    units / ((t - t0) / 1e9)
  }

  def run(seed: Long, cfg: DedupConfig): Map[String, Double] = {
    val files: IndexedSeq[CorpusFile] =
      CorpusGen.generateLocal(150, seed).map(_._1).toIndexedSeq
    val bytes = files.map(_.content.getBytes(UTF_8))
    val whole = bytes.reduce(_ ++ _)
    val totalBytes = bytes.map(_.length.toLong).sum
    val cut = Chunkers.forConfig(cfg.chunker)
    var sink = 0L
    val chunking = rate { () =>
      sink += Chunkers.boundaries(whole, cut).length
      whole.length.toLong
    }
    val shingles = rate { () =>
      bytes.foreach(b => sink += Shingles.shingleHashes(b, cfg.shingle).length)
      totalBytes
    }
    val sets = bytes.map(Shingles.shingleHashes(_, cfg.shingle))
    val minhash = rate { () =>
      sets.foreach(s => sink += Shingles.minhash(s, cfg.shingle.minhashK)(0))
      sets.length.toLong
    }
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val sha256 = java.security.MessageDigest.getInstance("SHA-256")
    val featurize = rate { () =>
      files.foreach(f =>
        sink += DedupPipeline.featurizeOne(f, cfg, sha1, sha256).size)
      totalBytes
    }
    blackhole = sink
    Map(
      "chunking.mb_per_s_1t" -> chunking / 1e6,
      "shingles.mb_per_s_1t" -> shingles / 1e6,
      "minhash.sigs_per_s_1t" -> minhash,
      "featurize_one.mb_per_s_1t" -> featurize / 1e6)
  }
}
